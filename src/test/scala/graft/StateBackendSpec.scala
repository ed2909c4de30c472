package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StateBackend, StreamingPipeline}

/** The stateful streaming operators must produce identical results
  * under the RocksDB state-store provider (the 100 TB state path:
  * off-heap, SSD-backed, changelog-checkpointed) — and the provider
  * must ACTUALLY serve the state, proven by RocksDB custom metrics in
  * the query progress, not just by the conf being set. */
class StateBackendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dedup under RocksDB: same rows as the default backend, rocksdb metrics present") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val prior = StateBackend.useRocksDB(spark, memoryBudgetMB = 64)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
        StateBackend.RocksDBProvider)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = StreamingPipeline.dedupStream(
          mem.toDF.toDF("event_id", "ts", "value"), Seq("event_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_rocks").start()
      try {
        mem.addData(
          (1L, ts("2024-01-01 10:00:00"), 1.0),
          (1L, ts("2024-01-01 10:00:01"), 99.0),
          (2L, ts("2024-01-01 10:05:00"), 2.0))
        q.processAllAvailable()
        mem.addData((2L, ts("2024-01-01 10:06:00"), 77.0),
          (3L, ts("2024-01-01 10:07:00"), 3.0))
        q.processAllAvailable()
        val rows = spark.table("dedup_rocks").collect()
        assert(rows.length == 3, rows.mkString(","))
        val out = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
        assert(out == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), out.toString)
        // the proof the backend is live: state-operator progress carries
        // rocksdb-prefixed custom metrics (absent under the HDFS provider)
        val metricKeys = q.recentProgress.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.toArray.map(_.toString)).toSet
        assert(metricKeys.exists(_.startsWith("rocksdb")),
          s"no rocksdb metrics in progress: $metricKeys")
      } finally q.stop()
    } finally StateBackend.restore(spark, prior)
  }

  test("session windows under RocksDB agree with the batch analog") {
    val prior = StateBackend.useRocksDB(spark, memoryBudgetMB = 64)
    try {
      val dir = graft.etl.Scratch.dir("graft_rocks_sess")
      graft.queries.t(spark, TestSpark.sfTiny, "events")
        .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        .write.mode("overwrite").parquet(dir)
      val q = StreamingPipeline.sessionWindowStream(
          StreamingPipeline.readEventStream(spark, dir))
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_rocks").start()
      try {
        q.processAllAvailable()
        // append mode emits only watermark-closed sessions; every emitted
        // session must match a batch session_window row exactly
        // sessionWindowStream emits (user_id, t_start, t_end, n_events)
        val got = spark.table("sess_rocks").collect()
          .map(r => (r.get(1).toString, r.getLong(0), r.getLong(3))).toSet
        val want = {
          import org.apache.spark.sql.functions._
          spark.read.parquet(dir)
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("session_window.start").cast("string"), col("user_id"), col("n_events"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        }
        assert(got.nonEmpty && got.subsetOf(want),
          s"emitted sessions diverge from batch: ${(got -- want).take(5)}")
      } finally q.stop()
    } finally StateBackend.restore(spark, prior)
  }

  test("restore returns the session to the prior backend") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val prior = StateBackend.useRocksDB(spark)
    StateBackend.restore(spark, prior)
    assert(spark.conf.getOption(key) == before)
  }
}
