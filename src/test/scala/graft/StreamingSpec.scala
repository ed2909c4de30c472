package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPipeline

/** The streaming variants must agree with their batch analogs on the
  * same data (SURVEY §2.9: batch queries pin the event-time
  * semantics). Memory sink + processAllAvailable makes the streaming
  * run synchronous. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fixtureDir: String = {
    val dir = graft.etl.Scratch.dir("graft_stream")
    graft.queries.t(spark, TestSpark.sfTiny, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling-hour aggregation matches the batch analog") {
    val stream = StreamingPipeline.readEventStream(spark, fixtureDir)
    val q = StreamingPipeline.tumblingHourly(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .select(col("h").cast("timestamp_ntz").as("h"), col("event_type"), col("n"))
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      val want = spark.read.parquet(fixtureDir)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("streaming sliding-window aggregation matches the declared batch query") {
    val stream = StreamingPipeline.readEventStream(spark, fixtureDir)
    val q = StreamingPipeline.slidingTwoHour(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sliding_out")
        .select(col("w_start").cast("timestamp_ntz").as("w_start"),
          col("n"), col("sum_v"))
        .collect().map(r => r.get(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      // the declared q_window_sliding runs the SAME window(width, slide)
      // fanout in batch over the same events — identical buckets and
      // decimal-exact sums, streaming slicing notwithstanding
      val want = SparkEntry.queries("q_window_sliding")(spark, TestSpark.sfTiny)
        .collect().map(r => r.get(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join on closed state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingPipeline.intervalJoinStream(
        clicks.toDF.toDF("user_id", "ts", "page"),
        buys.toDF.toDF("user_id", "ts", "amount"),
        within = "30 minutes")
      .select(col("user_id"), col("page"), col("r_amount"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 10:00:00"), "a"),   // buy at 10:10 → joins
        (1L, ts("2024-01-01 11:00:00"), "b"),   // no buy within 30 min
        (2L, ts("2024-01-01 10:05:00"), "c"))   // buy at 10:20 → joins
      buys.addData(
        (1L, ts("2024-01-01 10:10:00"), 5.0),
        (1L, ts("2024-01-01 12:30:00"), 7.0),   // outside b's interval
        (2L, ts("2024-01-01 10:20:00"), 9.0))
      q.processAllAvailable()
      // advance both watermarks so all join state closes
      clicks.addData((9L, ts("2024-01-01 20:00:00"), "z"))
      buys.addData((9L, ts("2024-01-01 20:00:01"), 0.0))
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      // the 20:00 sentinel pair also joins (1 s apart, same user)
      assert(got == Set((1L, "a", 5.0), (2L, "c", 9.0), (9L, "z", 0.0)), got.toString)
    } finally q.stop()
  }

  test("interval join buffers are watermark-bounded (state rows evicted)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = MemoryStream[(Long, java.sql.Timestamp)]
    val r = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingPipeline.intervalJoinStream(
        l.toDF.toDF("user_id", "ts"), r.toDF.toDF("user_id", "ts"),
        delay = "10 minutes", within = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_state_out").start()
    try {
      l.addData((1L, ts("2024-01-01 10:00:00")))
      r.addData((1L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // push both event-time watermarks far past 10:00 + delay + within
      l.addData((2L, ts("2024-01-01 15:00:00")))
      r.addData((2L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      l.addData((3L, ts("2024-01-01 15:30:00")))
      r.addData((3L, ts("2024-01-01 15:30:00")))
      q.processAllAvailable()
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty)
      // the 10:00 rows can no longer join anything → must have been
      // evicted; remaining state is just the recent rows
      assert(state.head.numRowsTotal <= 4,
        s"join state grew unbounded: ${state.head.numRowsTotal}")
    } finally q.stop()
  }

  test("watermark drops late data from closed windows (append mode)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingPipeline.tumblingHourly(
        mem.toDF.toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_drop_out").start()
    try {
      // batch 1: three rows in hour 10, plus one at 13:00 pushing the
      // 1-hour watermark to 12:00 — hour-10's window [10:00,11:00) is
      // now older than the watermark and finalizes.
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:20:00"), "click", 1.0),
        (ts("2024-01-01 10:40:00"), "click", 1.0),
        (ts("2024-01-01 13:00:00"), "view", 1.0))
      q.processAllAvailable()
      // batch 2: a LATE hour-10 click (event time < watermark) — must
      // be dropped, not added to the already-final hour-10 window.
      mem.addData((ts("2024-01-01 10:50:00"), "click", 9.0))
      q.processAllAvailable()
      val out = spark.table("late_drop_out")
        .select(col("h").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out(("2024-01-01 10:00:00", "click")) == 3L,
        s"late event must not inflate the closed window: $out")
      // hour-13 window is still open (watermark < its end) → not emitted
      assert(!out.keys.exists(_._1.startsWith("2024-01-01 13")), out.toString)
    } finally q.stop()
  }

  test("streaming decontamination agrees with the batch operator, stateless") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val evalShingles = graft.ops.Dedup.shingles(
      evalDocs, col("text"), col("doc_id"))
    val docs = Seq(
      StreamingPipeline.TrainDoc(1L, "alpha beta gamma delta epsilon zeta"), // 4 shared
      StreamingPipeline.TrainDoc(2L, "one two three four five six"),         // clean
      StreamingPipeline.TrainDoc(3L, "alpha beta gamma unrelated tail"),     // 1 shared
      StreamingPipeline.TrainDoc(4L, "xy"),                                  // < shingleLen tokens
      StreamingPipeline.TrainDoc(5L, null))                                  // null text: keep (batch parity), never NPE
    val mem = MemoryStream[StreamingPipeline.TrainDoc]
    val q = StreamingPipeline.decontaminateStream(
        mem.toDS(), evalShingles, shingleLen = 3, minOverlap = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try {
      mem.addData(docs.take(2))
      q.processAllAvailable()
      mem.addData(docs.drop(2)) // second batch: no cross-batch state
      q.processAllAvailable()
      val kept = spark.table("decon_out").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 3L, 4L, 5L), s"doc 1 is contaminated (4 overlaps): $kept")
      // agreement with the batch operator on the same data
      val batchFlagged = graft.ops.TrainPrep.decontaminate(
          docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          evalDocs, col("text"), col("doc_id"), shingleLen = 3, minOverlap = 4L)
        .collect().map(_.getLong(0)).toSet
      assert(batchFlagged == Set(1L))
    } finally q.stop()
  }

  test("streaming funnel agrees with the batch operator across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // u1 converts fully, split across two micro-batches
      StreamingPipeline.TypedEvent(1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      StreamingPipeline.TypedEvent(2L, ts("2024-01-01 10:05:00"), 1L, "click"),
      StreamingPipeline.TypedEvent(3L, ts("2024-01-01 10:10:00"), 1L, "purchase"),
      // u2 purchases BEFORE clicking — must stop at click
      StreamingPipeline.TypedEvent(4L, ts("2024-01-01 09:00:00"), 2L, "view"),
      StreamingPipeline.TypedEvent(5L, ts("2024-01-01 09:30:00"), 2L, "purchase"),
      StreamingPipeline.TypedEvent(6L, ts("2024-01-01 10:00:00"), 2L, "click"),
      // u3 clicks without viewing — enters no stage
      StreamingPipeline.TypedEvent(7L, ts("2024-01-01 11:00:00"), 3L, "click"))
    val stages = Seq("view", "click", "purchase")
    val mem = MemoryStream[StreamingPipeline.TypedEvent]
    val q = StreamingPipeline.funnelStream(mem.toDS(), stages)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try {
      mem.addData(events.take(4)) // u1 view+click+purchase, u2 view
      q.processAllAvailable()
      mem.addData(events.drop(4)) // u2's out-of-order rest, u3
      q.processAllAvailable()
      // u9: purchase SHARES the click's timestamp but sorts first
      // (lower event_id) — the batch >= gate counts it, so the
      // streaming fixpoint must too, in one micro-batch
      val u9 = Seq(
        StreamingPipeline.TypedEvent(90L, ts("2024-01-02 10:00:00"), 9L, "view"),
        StreamingPipeline.TypedEvent(91L, ts("2024-01-02 10:05:00"), 9L, "purchase"),
        StreamingPipeline.TypedEvent(92L, ts("2024-01-02 10:05:00"), 9L, "click"))
      mem.addData(u9)
      q.processAllAvailable()
      val got = spark.table("funnel_out")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == Set((1L, "view"), (1L, "click"), (1L, "purchase"),
        (2L, "view"), (2L, "click"),
        (9L, "view"), (9L, "click"), (9L, "purchase")))
      // per-stage user counts match the batch operator on the same log
      val batch = graft.ops.Behavior.funnelCounts(
          (events ++ u9).toDF(), col("user_id"), col("event_type"), col("ts"), stages)
        .head()
      val streamCounts = stages.map(st =>
        got.count(_._2 == st).toLong)
      assert(streamCounts == Seq(batch.getLong(0), batch.getLong(1), batch.getLong(2)))
    } finally q.stop()
  }

  test("streaming near-dup candidates match the batch LSH pairs against the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // static index over an existing corpus
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.lshBandKeys(corpus, col("text"), col("doc_id"))
    // arriving docs: 10 = exact dup of 1; 11 = unrelated; 12 = too short
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.nearDupCandidatesStream(
        mem.toDF.toDF("doc_id", "text"), col("text"), col("doc_id"), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "nothing shared with anything else at all zero overlap"),
        (12L, "too short"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((10L, 1L)), s"only the dup pairs with doc 1: $pairs")
    } finally q.stop()
  }

  test("streaming simhash candidates: arriving docs match banded history statelessly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    // static band index from the row-local path (== the aggregate
    // banding, OpsSpec-gated)
    val index = graft.ops.Dedup.simHashBandKeys(corpus, col("text"), col("doc_id"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.simHashCandidatesStream(
        mem.toDF.toDF("doc_id", "text"), col("text"), col("doc_id"), index,
        nBits = 64, nBands = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("simham_out").start()
    try {
      // 10 = exact dup of 1 (identical signature — every band hits);
      // 11 = unrelated (no band shared with either corpus doc)
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "zebra xylophone quartz jigsaw vortex plasma nebula crumpet"))
      q.processAllAvailable()
      val got = spark.table("simham_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((10L, 1L)), s"dup must surface via shared bands: $got")
      assert(!got.exists(_._1 == 11L), s"unrelated doc must not pair: $got")
    } finally q.stop()
  }

  test("ivfProbeStream: streamed queries score identically to the batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"${TestSpark.sfTiny}/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 10)
    val queries = emb.filter(col("vec_id") < 10)
    // train ONE static index, shared by the stream and the batch twin
    val centroids = graft.ops.Similarity.ivfCentroids(
      corpus, col("vec_id"), col("embedding"), k = 8, iters = 1)
    val assigned = graft.ops.Similarity.assignClusters(
      corpus.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v")), centroids)
    // batch reference: exhaustive probe top-5 per query
    val batchTop = graft.ops.Similarity.ivfTopKBatch(
        corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5,
        nClusters = 8, nprobe = 8, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq
      }
    // stream the same queries through the static index
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingPipeline.ivfProbeStream(
        mem.toDF.toDF("vec_id", "qv"), col("vec_id"), col("qv"),
        centroids, assigned, nprobe = 8)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivf_probe_out").start()
    try {
      val qRows = queries.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      mem.addData(qRows.toIndexedSeq: _*)
      q.processAllAvailable()
      // sink-side per-query top-5 over the candidate stream
      val streamTop = spark.table("ivf_probe_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (qid, rs) =>
          qid -> rs.map(t => (t._2, t._3))
            .sortBy { case (id, cos) => (-cos, id) }.take(5).toSeq
        }
      assert(streamTop.keySet == batchTop.keySet)
      streamTop.keySet.foreach { qid =>
        assert(streamTop(qid) == batchTop(qid),
          s"query $qid: stream != batch\n${streamTop(qid)}\n${batchTop(qid)}")
      }
    } finally q.stop()
  }

  test("upsertSink publishes one consistent snapshot; no stale re-emissions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = graft.etl.Scratch.dir("graft_upsert")
    val ckpt = graft.etl.Scratch.dir("graft_upsert_ckpt")
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingPipeline.upsertSink(
      StreamingPipeline.tumblingHourly(mem.toDF.toDF("ts", "event_type", "value")),
      Seq("h", "event_type"), out, ckpt).start()
    try {
      mem.addData((ts("2024-01-01 10:05:00"), "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:20:00"), "click", 1.0),
        (ts("2024-01-01 11:10:00"), "view", 2.0))
      q.processAllAvailable()
      val snap = StreamingPipeline.readLatestSnapshot(spark, out)
        .select(col("h").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // exactly one row per key, with the LATEST counts (no stale 1-count row)
      assert(snap == Map(
        ("2024-01-01 10:00:00", "click") -> 2L,
        ("2024-01-01 11:00:00", "view") -> 1L), snap.toString)
    } finally q.stop()
  }

  test("upsert batch replay is idempotent (at-least-once foreachBatch recovery)") {
    import spark.implicits._
    val out = graft.etl.Scratch.dir("graft_upsert_replay")
    val b0 = Seq(("k1", 1L), ("k2", 1L)).toDF("k", "n")
    StreamingPipeline.applyUpsertBatch(b0, 0L, Seq("k"), out)
    val b1 = Seq(("k2", 5L), ("k3", 1L)).toDF("k", "n")
    StreamingPipeline.applyUpsertBatch(b1, 1L, Seq("k"), out)
    def snap() = StreamingPipeline.readLatestSnapshot(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val applied = snap()
    assert(applied == Map("k1" -> 1L, "k2" -> 5L, "k3" -> 1L))
    // crash-between-flip-and-checkpoint-commit → the same batchId
    // re-runs; the replay guard must leave the snapshot untouched
    // (without it, the merge would read the directory being overwritten)
    StreamingPipeline.applyUpsertBatch(b1, 1L, Seq("k"), out)
    assert(snap() == applied)
  }

  test("streaming dedup keeps first arrival per key within the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingPipeline.dedupStream(
        mem.toDF.toDF("event_id", "ts", "value"), Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:00:01"), 99.0), // dup key, later arrival
        (2L, ts("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      // replayed dup in a later batch, still inside the watermark
      mem.addData((2L, ts("2024-01-01 10:06:00"), 77.0),
        (3L, ts("2024-01-01 10:07:00"), 3.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
      // row count FIRST: toMap would mask a duplicate emission
      assert(rows.length == 3, rows.mkString(","))
      val out = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(out == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), out.toString)
    } finally q.stop()
  }

  test("dedup state PLATEAUS at the watermark horizon, not stream lifetime") {
    // the ∞-time contract behind dedupStream's existence (a plain
    // dropDuplicates grows state forever): with event time advancing
    // 1 h/batch under a 1 h watermark, the store must hold ~the
    // in-horizon batches' keys and STOP growing — measured at 200k
    // rows/batch by ScaleProbe stream (SCALE.md §Streaming); asserted
    // here at spec size so a state-retention regression fails the suite
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingPipeline.dedupStream(
        mem.toDF.toDF("event_id", "ts", "value"), Seq("event_id"))
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation",
        graft.etl.Scratch.dir("graft_dedup_plateau"))
      .start()
    try {
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val statePerBatch = (0 until 6).map { b =>
        // 100 fresh keys per batch, all timestamps inside batch b's hour
        mem.addData((0 until 100).map(i => (b * 100L + i,
          new java.sql.Timestamp(base + b * 3600000L + i * 1000L), 1.0)))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      // grows over the first in-horizon batches...
      assert(statePerBatch.head == 100L, statePerBatch.toString)
      // ...then stops: the last batches hold the same bounded key set,
      // far below the 600 cumulative keys an unbounded store would hold
      assert(statePerBatch.last == statePerBatch(4),
        s"state still growing at batch 5: $statePerBatch")
      assert(statePerBatch.last <= 300L,
        s"state not watermark-bounded: $statePerBatch")
    } finally q.stop()
  }

  test("upsert recovers from a missing pointer and distinguishes runs") {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = graft.etl.Scratch.dir("graft_upsert_recover")
    StreamingPipeline.applyUpsertBatch(
      Seq(("k1", 1L)).toDF("k", "n"), 0L, Seq("k"), out, runTag = "aaaa")
    StreamingPipeline.applyUpsertBatch(
      Seq(("k2", 2L)).toDF("k", "n"), 1L, Seq("k"), out, runTag = "aaaa")
    def snap() = StreamingPipeline.readLatestSnapshot(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap() == Map("k1" -> 1L, "k2" -> 2L))
    // crash inside the delete→rename window: pointer gone, data intact —
    // the writer must fall back to the newest complete snapshot
    fs.delete(new org.apache.hadoop.fs.Path(out, "_LATEST"), false)
    StreamingPipeline.applyUpsertBatch(
      Seq(("k3", 3L)).toDF("k", "n"), 2L, Seq("k"), out, runTag = "aaaa")
    assert(snap() == Map("k1" -> 1L, "k2" -> 2L, "k3" -> 3L))
    // a FRESH stream (new checkpoint → new tag) over the same outDir
    // restarts batch ids at 0 — that is NOT a replay; its batch must
    // merge, not be skipped
    StreamingPipeline.applyUpsertBatch(
      Seq(("k1", 9L)).toDF("k", "n"), 0L, Seq("k"), out, runTag = "bbbb")
    assert(snap() == Map("k1" -> 9L, "k2" -> 2L, "k3" -> 3L))
  }

  // ---- the upsert snapshot as a base plus a chain of deltas ----------

  private lazy val hadoopFs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** A base of `filler` rows under keys `f0`.. (batch 0 of `tag`), big
    * enough that the small batches after it stay deltas: their bytes
    * stay under the base's until `StreamingPipeline.FoldRatio` trips. */
  private def upsertBase(out: String, filler: Int, tag: String): Unit = {
    import spark.implicits._
    StreamingPipeline.applyUpsertBatch((0 until filler).map(i => (s"f$i", i.toLong))
      .toDF("k", "n"), 0L, Seq("k"), out, tag)
  }

  private def upsert(out: String, batchId: Long, tag: String, rows: (String, Long)*): Unit = {
    import spark.implicits._
    StreamingPipeline.applyUpsertBatch(rows.toDF("k", "n"), batchId, Seq("k"), out, tag)
  }

  private def chainNow(out: String): StreamingPipeline.Chain =
    StreamingPipeline.snapshotChain(spark, out,
      StreamingPipeline.awaitLatestSnapshotName(spark, out))

  /** The published view without the filler, as sorted (k, n) pairs, so
    * a duplicated key shows. */
  private def viewOf(out: String): Seq[(String, Long)] =
    StreamingPipeline.readLatestSnapshot(spark, out).filter(!col("k").startsWith("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted

  private def pointTo(out: String, name: String): Unit = {
    val ptr = hadoopFs.create(new org.apache.hadoop.fs.Path(out, "_LATEST"), true)
    try ptr.write(name.getBytes("UTF-8")) finally ptr.close()
  }

  test("delta chain: each batch writes only its rows; replay of any chained batch is a no-op") {
    val out = graft.etl.Scratch.dir("graft_chain_replay")
    upsertBase(out, 2000, "run")
    upsert(out, 1L, "run", ("k1", 1L), ("k2", 1L))
    upsert(out, 2L, "run", ("k2", 5L), ("k3", 1L))
    upsert(out, 3L, "run", ("k4", 1L))
    val chain = chainNow(out)
    assert(chain.layers == (0 to 3).map(i => s"snapshot_${i}_run"), chain)
    assert(chain.keys == Seq("k"))
    // a delta holds its batch's rows only
    assert(spark.read.parquet(s"$out/snapshot_2_run").count() == 2L)
    val applied = viewOf(out)
    assert(applied == Seq("k1" -> 1L, "k2" -> 5L, "k3" -> 1L, "k4" -> 1L))
    assert(StreamingPipeline.readLatestSnapshot(spark, out).count() == 2004L)
    // the head's and an older layer's batch re-run: nothing moves
    upsert(out, 3L, "run", ("k4", 1L))
    upsert(out, 2L, "run", ("k2", 5L), ("k3", 1L))
    assert(chainNow(out) == chain)
    assert(viewOf(out) == applied)
  }

  test("delta chain: a lost pointer falls back to the newest complete layer; a fresh run extends the chain") {
    val out = graft.etl.Scratch.dir("graft_chain_recover")
    upsertBase(out, 2000, "aaaa")
    upsert(out, 1L, "aaaa", ("k1", 1L))
    upsert(out, 2L, "aaaa", ("k2", 2L))
    upsert(out, 3L, "aaaa", ("k3", 3L))
    hadoopFs.delete(new org.apache.hadoop.fs.Path(out, "_LATEST"), false)
    upsert(out, 4L, "aaaa", ("k4", 4L))
    assert(chainNow(out).layers.size == 5)
    assert(viewOf(out) == Seq("k1" -> 1L, "k2" -> 2L, "k3" -> 3L, "k4" -> 4L))
    // a fresh stream's batch 0 is a new delta on the old run's chain
    upsert(out, 0L, "bbbb", ("k1", 9L))
    assert(chainNow(out).layers.last == "snapshot_0_bbbb")
    assert(chainNow(out).layers.size == 6)
    assert(viewOf(out) == Seq("k1" -> 9L, "k2" -> 2L, "k3" -> 3L, "k4" -> 4L))
  }

  test("delta chain: a crash after the delta write and before the flip") {
    val out = graft.etl.Scratch.dir("graft_chain_noflip")
    upsertBase(out, 2000, "run")
    (1L to 3L).foreach(i => upsert(out, i, "run", (s"k$i", i)))
    val before = viewOf(out)
    // batch 4 writes its delta, then the writer dies before the flip:
    // the disk holds the complete delta, the pointer the old head
    upsert(out, 4L, "run", ("k1", 40L), ("k5", 5L))
    pointTo(out, "snapshot_3_run")
    assert(viewOf(out) == before, "readers keep the old chain")
    // the stream re-runs batch 4
    upsert(out, 4L, "run", ("k1", 40L), ("k5", 5L))
    assert(chainNow(out).layers == (0 to 4).map(i => s"snapshot_${i}_run"))
    assert(viewOf(out) == Seq("k1" -> 40L, "k2" -> 2L, "k3" -> 3L, "k5" -> 5L))
  }

  test("delta chain: a crash in the middle of a fold leaves the old chain serving") {
    val out = graft.etl.Scratch.dir("graft_chain_fold")
    upsertBase(out, 1, "run")
    // a delta bigger than the base: the next batch folds
    upsert(out, 1L, "run", (0 until 200).map(i => (s"k$i", i.toLong)): _*)
    assert(chainNow(out).layers.size == 2)
    val before = viewOf(out)
    // batch 2's fold dies mid-write (a torn part file, no _SUCCESS),
    // and the pointer is lost with it
    val fold = new java.io.File(out, "snapshot_2_run")
    assert(fold.mkdir())
    java.nio.file.Files.write(new java.io.File(fold, "part-00000-torn.snappy.parquet").toPath,
      Array[Byte](1, 2, 3))
    hadoopFs.delete(new org.apache.hadoop.fs.Path(out, "_LATEST"), false)
    // the re-run falls back to the complete chain and redoes the fold
    upsert(out, 2L, "run", ("k0", 100L), ("knew", 1L))
    val folded = chainNow(out)
    assert(folded.layers == Seq("snapshot_2_run") && folded.keys.isEmpty, folded)
    assert(!new java.io.File(fold, "part-00000-torn.snappy.parquet").exists())
    assert(viewOf(out) == (before.filter(_._1 != "k0") ++ Seq("k0" -> 100L, "knew" -> 1L)).sorted)
    assert(StreamingPipeline.readLatestSnapshot(spark, out).count() == 202L)
    // the old chain stays as the grace copy, then retires
    assert(new java.io.File(out, "snapshot_1_run").exists())
    upsert(out, 3L, "run", ("k1", 7L))
    assert(!new java.io.File(out, "snapshot_1_run").exists())
    assert(!new java.io.File(out, "snapshot_0_run").exists())
  }

  test("delta chain: the newest layer holding a key wins, duplicates within one batch included") {
    val out = graft.etl.Scratch.dir("graft_chain_wins")
    upsertBase(out, 2000, "run")
    upsert(out, 1L, "run", ("k1", 1L), ("k2", 1L))
    upsert(out, 2L, "run", ("k1", 2L))
    upsert(out, 3L, "run", ("k1", 3L), ("k5", 1L), ("k5", 2L))
    assert(chainNow(out).layers.size == 4)
    assert(viewOf(out) == Seq("k1" -> 3L, "k2" -> 1L, "k5" -> 1L, "k5" -> 2L))
    upsert(out, 4L, "run", ("k5", 7L))
    assert(viewOf(out) == Seq("k1" -> 3L, "k2" -> 1L, "k5" -> 7L))
  }

  private def lostPointer(out: String): Unit =
    hadoopFs.delete(new org.apache.hadoop.fs.Path(out, "_LATEST"), false)

  test("delta chain: a lost pointer after a second run extended the chain keeps that run's layers") {
    val out = graft.etl.Scratch.dir("graft_chain_tworuns")
    upsertBase(out, 2000, "aaaa")
    (1L to 4L).foreach(i => upsert(out, i, "aaaa", (s"k$i", i)))
    (0L to 2L).foreach(i => upsert(out, i, "bbbb", (s"k${i + 1}", 10 + i)))
    val before = viewOf(out)
    assert(before == Seq("k1" -> 10L, "k2" -> 11L, "k3" -> 12L, "k4" -> 4L))
    // bbbb dies in the pointer window of its batch 2; a third run finds
    // no pointer and no layer of its own: it must build on bbbb's
    // batch 2, not on aaaa's higher batch id 4
    lostPointer(out)
    upsert(out, 0L, "cccc", ("k5", 5L))
    assert(chainNow(out).layers == (0 to 4).map(i => s"snapshot_${i}_aaaa") ++
      (0 to 2).map(i => s"snapshot_${i}_bbbb") :+ "snapshot_0_cccc")
    assert(viewOf(out) == before :+ ("k5" -> 5L))
    // retirement kept bbbb's layers: the next batch still reads them
    upsert(out, 1L, "cccc", ("k6", 6L))
    assert(viewOf(out) == before ++ Seq("k5" -> 5L, "k6" -> 6L))
  }

  test("delta chain: a lost pointer after a fold falls back to the new base, not the longer grace chain") {
    val out = graft.etl.Scratch.dir("graft_chain_foldloss")
    upsertBase(out, 1, "aaaa")
    upsert(out, 1L, "aaaa", (0 until 200).map(i => (s"k$i", i.toLong)): _*)
    // a fresh run's batch 0 folds the chain into a new base; the old
    // chain stays as the grace copy
    upsert(out, 0L, "bbbb", ("k0", 100L))
    assert(chainNow(out).layers == Seq("snapshot_0_bbbb"))
    assert(new java.io.File(out, "snapshot_1_aaaa").exists())
    val before = viewOf(out)
    assert(before.contains("k0" -> 100L))
    lostPointer(out)
    upsert(out, 0L, "cccc", ("knew", 1L))
    assert(chainNow(out).layers == Seq("snapshot_0_bbbb", "snapshot_0_cccc"))
    assert(viewOf(out) == (before :+ ("knew" -> 1L)).sorted)
  }

  test("delta chain: a lost pointer prefers the published layer over an unflipped one of the same depth") {
    val out = graft.etl.Scratch.dir("graft_chain_orphan")
    upsertBase(out, 2000, "aaaa")
    (1L to 2L).foreach(i => upsert(out, i, "aaaa", (s"k$i", i)))
    // aaaa writes its batch 3, then dies before the flip
    upsert(out, 3L, "aaaa", ("k1", 30L))
    pointTo(out, "snapshot_2_aaaa")
    def path(name: String) = new org.apache.hadoop.fs.Path(out, name)
    // a fresh run publishes on the old head; its retirement would
    // delete the unflipped layer, so keep that aside and restore it,
    // as a crash in bbbb's pointer window before retirement leaves it
    assert(hadoopFs.rename(path("snapshot_3_aaaa"), path("aside")))
    upsert(out, 0L, "bbbb", ("k2", 20L))
    assert(hadoopFs.rename(path("aside"), path("snapshot_3_aaaa")))
    val before = viewOf(out)
    assert(before == Seq("k1" -> 1L, "k2" -> 20L))
    lostPointer(out)
    upsert(out, 0L, "cccc", ("k5", 5L))
    assert(chainNow(out).layers.takeRight(2) == Seq("snapshot_0_bbbb", "snapshot_0_cccc"))
    assert(viewOf(out) == before :+ ("k5" -> 5L))
    assert(!new java.io.File(out, "snapshot_3_aaaa").exists())
  }

  test("delta chain: a delta whose column type is wider than the base's reads widened") {
    import spark.implicits._
    val out = graft.etl.Scratch.dir("graft_chain_types")
    StreamingPipeline.applyUpsertBatch((0 until 2000).map(i => (s"f$i", i)).toDF("k", "n"),
      0L, Seq("k"), out, "run")
    upsert(out, 1L, "run", ("f1", 1L << 40), ("k1", 1L))
    assert(chainNow(out).layers.size == 2)
    val snap = StreamingPipeline.readLatestSnapshot(spark, out)
    assert(snap.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(snap.filter(col("k") === "f1").collect().map(_.getLong(1)).toSeq == Seq(1L << 40))
    assert(snap.count() == 2001L)
  }

  test("delta chain: a read runs the same jobs at 3 and at 12 layers") {
    def jobsAt(layers: Int): Int = {
      val out = graft.etl.Scratch.dir(s"graft_chain_read_$layers")
      upsertBase(out, 5000, "run")
      (1 until layers).foreach(i => upsert(out, i.toLong, "run", (s"k$i", i.toLong)))
      assert(chainNow(out).layers.size == layers)
      TestSpark.jobsDuring(StreamingPipeline.readLatestSnapshot(spark, out).collect(): Unit)
    }
    val (short, long) = (jobsAt(3), jobsAt(12))
    assert(short == long && long <= 2, s"$short jobs reading 3 layers, $long reading 12")
  }

  test("run tag tracks the streaming query id, not the checkpoint path") {
    // a wiped-and-reused checkpoint restarts batch ids at 0 under a NEW
    // query id; a path-derived tag would match the old run's markers
    // and silently skip those batches (round-7 ADVICE)
    val ckpt = graft.etl.Scratch.dir("graft_runtag")
    val meta = new java.io.File(ckpt, "metadata")
    def writeMeta(id: String): Unit = {
      val w = new java.io.PrintWriter(meta, "UTF-8")
      try w.write(s"""{"id":"$id"}""") finally w.close()
    }
    writeMeta("0a1b2c3d-1111-2222-3333-444455556666")
    val tag1 = StreamingPipeline.runTag(spark, ckpt)
    assert(tag1 == "0a1b2c3d")
    // same path, fresh query id after a checkpoint wipe → fresh tag
    writeMeta("ffee0011-9999-8888-7777-666655554444")
    assert(StreamingPipeline.runTag(spark, ckpt) == "ffee0011")
    // no metadata yet (batch appliers called outside a stream): stable
    // path-hash fallback
    assert(meta.delete())
    val fb = StreamingPipeline.runTag(spark, ckpt)
    assert(fb == StreamingPipeline.runTag(spark, ckpt) && fb.length == 8)
    assert(fb != tag1)
  }

  test("stateful sessionize agrees with the batch lag+cumsum sessionizer") {
    import spark.implicits._
    val events = spark.read.parquet(fixtureDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
      .as[StreamingPipeline.Event]
    // single batch: every session (closed AND running) is emitted with
    // its final count — the full set must equal the batch analog's.
    val got = StreamingPipeline.sessionize(events)
      .collect().map(s => (s.user_id, s.session_id, s.n_events)).toSet
    val want = SparkEntry.queries("q_sessionize")(spark, TestSpark.sfTiny)
      .select("user_id", "session_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("native session_window stream: closed sessions match the batch gap split") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingPipeline.sessionWindowStream(
        mem.toDF.toDF("user_id", "ts"), gap = "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
        (1L, ts("2024-01-01 12:00:00")), // > 30 min gap → second session
        (2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // sentinel far past every session end: advances the watermark so
      // the engine closes + emits all prior sessions on the NEXT batch
      mem.addData((99L, ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      mem.addData((99L, ts("2024-01-03 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("sw_out").filter(col("user_id") < 99)
        .collect().map(r => (r.getLong(0), r.get(1).toString, r.getLong(3))).toSet
      // append mode emits each closed session exactly once, with the
      // session start = first event and count = events inside the gap
      // chain — the same split the batch lag+cumsum sessionizer makes
      assert(got == Set(
        (1L, "2024-01-01 10:00:00.0", 2L),
        (1L, "2024-01-01 12:00:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming CDC apply folds the change feed into the versioned snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_cdc_stream"))
    val outDir = base.resolve("snap").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(String, String, String, Long)]
    val q = StreamingPipeline.cdcApplySink(
      mem.toDF().toDF("k", "v", "op", "ts"),
      "k", Seq("v"), outDir, ckpt).start()
    try {
      mem.addData(("a", "a1", "I", 1L), ("b", "b1", "I", 1L))
      q.processAllAvailable()
      // second micro-batch: update a, delete b, insert c — plus a
      // stale change that must lose to the stored version
      mem.addData(("a", "a2", "U", 5L), ("a", "aStale", "U", 2L),
        ("b", null, "D", 4L), ("c", "c1", "I", 3L))
      q.processAllAvailable()
      val live = graft.etl.ChangeApply.current(spark.read.parquet(outDir))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(live == Map("a" -> "a2", "c" -> "c1"))
      // the delete is a tombstone, not a lost row
      val d = spark.read.parquet(outDir)
        .filter(col("k") === "b").select("__deleted").head()
      assert(d.getBoolean(0))
    } finally q.stop()
  }

  test("streaming SCD2 sink maintains the versioned dimension across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_scd2_stream"))
    val outDir = base.resolve("dim").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingPipeline.scd2Sink(
      mem.toDF().toDF("k", "city", "ts"),
      "k", "ts", Seq("city"), outDir, ckpt).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData((1L, "berlin", t("2024-01-01 00:00:00")),
        (2L, "paris", t("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // second micro-batch: key 1 moves, key 2 is a no-op update,
      // key 3 inserts — history must close berlin at the move ts
      mem.addData((1L, "madrid", t("2024-02-01 00:00:00")),
        (2L, "paris", t("2024-02-01 00:00:00")),
        (3L, "oslo", t("2024-02-01 00:00:00")))
      q.processAllAvailable()
      val dim = spark.read.parquet(outDir)
      val open = dim.filter(col("valid_to").isNull)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(open == Map(1L -> "madrid", 2L -> "paris", 3L -> "oslo"))
      val closed = dim.filter(col("valid_to").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(3).toString))
      assert(closed.toSeq == Seq((1L, "berlin", "2024-02-01 00:00:00.0")))
      // point-in-time read straight off the streamed dimension
      val at = graft.etl.Scd2.asOf(dim,
          lit("2024-01-15 00:00:00").cast("timestamp"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(at == Map(1L -> "berlin", 2L -> "paris"))
    } finally q.stop()
  }
}
