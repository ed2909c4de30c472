package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Scd2

/** SCD2 merge: version chains, idempotence, same-batch collapse,
  * null-safe change detection, and the point-in-time read. */
class Scd2Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val empty = Seq.empty[(Long, String, java.sql.Timestamp, java.sql.Timestamp)]
    .toDF("k", "city", "valid_from", "valid_to")

  test("insert, change, and no-op update build the right chains") {
    val u1 = Seq((1L, "berlin", ts("2024-01-01 00:00:00")),
      (2L, "paris", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts")
    val v1 = Scd2.merge(empty, u1, "k", "ts", Seq("city"))
    assert(v1.count() == 2 && v1.filter(col("valid_to").isNull).count() == 2)

    // key 1 moves; key 2 update is identical → no new version
    val u2 = Seq((1L, "madrid", ts("2024-02-01 00:00:00")),
      (2L, "paris", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v2 = Scd2.merge(v1, u2, "k", "ts", Seq("city"))
    val rows = v2.orderBy(col("k"), col("valid_from"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString).orNull))
    assert(rows.toSeq == Seq(
      (1L, "berlin", "2024-02-01 00:00:00.0"),
      (1L, "madrid", null),
      (2L, "paris", null)))

    // re-applying the same batch is a no-op (idempotence)
    val v3 = Scd2.merge(v2, u2, "k", "ts", Seq("city"))
    assert(v3.count() == v2.count())
  }

  test("several updates for one key in a batch collapse to the last") {
    val u = Seq((1L, "a", ts("2024-01-01 00:00:00")),
      (1L, "b", ts("2024-01-03 00:00:00")),
      (1L, "c", ts("2024-01-02 00:00:00"))).toDF("k", "city", "ts")
    val v = Scd2.merge(empty, u, "k", "ts", Seq("city"))
    val open = v.filter(col("valid_to").isNull).collect()
    assert(open.length == 1 && open.head.getString(1) == "b") // latest ts wins
  }

  test("null-safe change detection: null→value and value→null version") {
    val u1 = Seq((1L, Option.empty[String], ts("2024-01-01 00:00:00")))
      .toDF("k", "city", "ts")
    val v1 = Scd2.merge(empty, u1, "k", "ts", Seq("city"))
    val u2 = Seq((1L, Option("rome"), ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v2 = Scd2.merge(v1, u2, "k", "ts", Seq("city"))
    assert(v2.count() == 2) // null → rome versioned
    val v3 = Scd2.merge(v2, u2, "k", "ts", Seq("city"))
    assert(v3.count() == 2) // identical non-null re-apply: no-op
  }

  test("asOf returns each key's row valid at the probe instant") {
    val u1 = Seq((1L, "berlin", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts")
    val u2 = Seq((1L, "madrid", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v = Scd2.merge(Scd2.merge(empty, u1, "k", "ts", Seq("city")),
      u2, "k", "ts", Seq("city"))
    assert(Scd2.asOf(v, lit(ts("2024-01-15 00:00:00"))).head().getString(1) == "berlin")
    assert(Scd2.asOf(v, lit(ts("2024-03-01 00:00:00"))).head().getString(1) == "madrid")
    // probe before history begins: no row
    assert(Scd2.asOf(v, lit(ts("2023-12-01 00:00:00"))).isEmpty)
  }

  test("stale update (ts <= open valid_from) is a no-op, never inverts an interval") {
    val u1 = Seq((1L, "berlin", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v1 = Scd2.merge(empty, u1, "k", "ts", Seq("city"))
    // a late batch arrives with an OLDER ts and a different attribute:
    // applying it would close berlin with valid_to < valid_from
    val late = Seq((1L, "madrid", ts("2024-01-15 00:00:00"))).toDF("k", "city", "ts")
    val v2 = Scd2.merge(v1, late, "k", "ts", Seq("city"))
    val rows = v2.collect()
    assert(rows.length == 1 && rows.head.getString(1) == "berlin" &&
      rows.head.isNullAt(3)) // open row survives unchanged
    // same-instant update (ts == valid_from) is equally stale
    val sameTs = Seq((1L, "oslo", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v3 = Scd2.merge(v1, sameTs, "k", "ts", Seq("city"))
    assert(v3.count() == 1 && v3.head().getString(1) == "berlin")
    // no row anywhere in the chain has valid_to <= valid_from
    assert(v2.filter(col("valid_to") <= col("valid_from")).isEmpty)
  }

  test("null key or ts in updates raises instead of losing the open row") {
    val base = Scd2.merge(empty,
      Seq((1L, "berlin", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts"),
      "k", "ts", Seq("city"))
    // null ts + changed attr: unguarded, the three-valued stale
    // predicate failed every output filter and key 1's open row
    // silently VANISHED from the merged dimension
    val nullTs = Seq((1L, "madrid", null.asInstanceOf[java.sql.Timestamp]))
      .toDF("k", "city", "ts")
    val ex = intercept[Exception] {
      Scd2.merge(base, nullTs, "k", "ts", Seq("city")).collect()
    }
    assert(ex.getMessage.contains("null 'ts'") ||
      Option(ex.getCause).exists(_.getMessage.contains("null 'ts'")), ex.getMessage)
    // null key: unguarded, a phantom all-null "open row" appeared
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], "oslo",
        ts("2024-03-01 00:00:00")))
      .toDF("k", "city", "ts")
    val ex2 = intercept[Exception] {
      Scd2.merge(base, nullKey, "k", "ts", Seq("city")).collect()
    }
    assert(ex2.getMessage.contains("null 'k'") ||
      Option(ex2.getCause).exists(_.getMessage.contains("null 'k'")), ex2.getMessage)
  }

  test("history rows pass through untouched and cost no join") {
    val u1 = Seq((1L, "berlin", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts")
    val v1 = Scd2.merge(empty, u1, "k", "ts", Seq("city"))
    val u2 = Seq((1L, "madrid", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    val v2 = Scd2.merge(v1, u2, "k", "ts", Seq("city"))
    val u3 = Seq((1L, "oslo", ts("2024-03-01 00:00:00"))).toDF("k", "city", "ts")
    val v3 = Scd2.merge(v2, u3, "k", "ts", Seq("city"))
    // chain: berlin[Jan,Feb) madrid[Feb,Mar) oslo[Mar,∞)
    val chain = v3.orderBy(col("valid_from")).collect().map(_.getString(1)).toSeq
    assert(chain == Seq("berlin", "madrid", "oslo"))
  }

  test("persisted advance bootstraps, folds update batches, reports open count") {
    val path = graft.etl.Scratch.dir("graft_scd2_adv") + "/dim"
    val u1 = Seq((1L, "berlin", ts("2024-01-01 00:00:00")),
      (2L, "paris", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts")
    assert(Scd2.advance(spark, path, u1, "k", "ts", Seq("city")) == 2)
    val u2 = Seq((1L, "madrid", ts("2024-02-01 00:00:00")),
      (3L, "oslo", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    assert(Scd2.advance(spark, path, u2, "k", "ts", Seq("city")) == 3)
    val dim = spark.read.parquet(path)
    assert(dim.count() == 4) // berlin closed + 3 open
    val at = Scd2.asOf(dim, lit("2024-01-15 00:00:00").cast("timestamp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at == Map(1L -> "berlin", 2L -> "paris"))
    // re-advancing the last batch is a no-op (the streaming sink's
    // at-least-once redelivery contract)
    assert(Scd2.advance(spark, path, u2, "k", "ts", Seq("city")) == 3)
    assert(spark.read.parquet(path).count() == 4)
  }

  test("advance recovers a publish interrupted between delete and rename") {
    val path = graft.etl.Scratch.dir("graft_scd2_crash") + "/dim"
    val u1 = Seq((1L, "berlin", ts("2024-01-01 00:00:00"))).toDF("k", "city", "ts")
    Scd2.advance(spark, path, u1, "k", "ts", Seq("city"))
    // simulate a crash inside the swap window: the live dir is gone,
    // the fully-written next version sits under the tmp name
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__merging")))
    val u2 = Seq((2L, "paris", ts("2024-02-01 00:00:00"))).toDF("k", "city", "ts")
    assert(Scd2.advance(spark, path, u2, "k", "ts", Seq("city")) == 2)
    val open = spark.read.parquet(path).filter(col("valid_to").isNull)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(open == Map(1L -> "berlin", 2L -> "paris"))
  }

  test("q_scd2_advance serves from a genuinely persisted on-disk chain") {
    // drive the DECLARED query (builds the 3-batch advance memo), then
    // inspect the exact state directory it reads: parquet on disk, a
    // completed swap (no __merging temp), and a full chain — both open
    // and closed versions present
    assert(SparkEntry.queries("q_scd2_advance")(spark, TestSpark.sfTiny).count() > 0)
    val dim = queries.ExtendedQueries.scd2AdvancePath(spark, TestSpark.sfTiny) + "/dim"
    assert(new java.io.File(dim).listFiles().exists(_.getName.startsWith("part-")))
    assert(!new java.io.File(dim + "__merging").exists(),
      "swap temp must not survive publish")
    val st = spark.read.parquet(dim)
    assert(st.filter(col("valid_to").isNull).count() > 0)
    assert(st.filter(col("valid_to").isNotNull).count() > 0)
  }

  test("q_stream_scd2_publish: the streamed dim equals the batch advance dim") {
    // the stream delivers the SAME period slices scd2AdvancePath folds
    // in batch, so after a real availableNow run the two persisted
    // dimensions must be row-identical — order delivery included
    // (mis-ordered micro-batches would drop a whole period as stale)
    assert(SparkEntry.queries("q_stream_scd2_publish")(spark, TestSpark.sfTiny)
      .count() > 0)
    val base = queries.ExtendedQueries.streamScd2Path(spark, TestSpark.sfTiny)
    assert(new java.io.File(base + "/ckpt").exists(),
      "a real stream must have checkpointed")
    assert(!new java.io.File(base + "/dim__merging").exists(),
      "swap temp must not survive publish")
    val streamed = spark.read.parquet(base + "/dim")
      .collect().map(_.toString).sorted
    val batch = spark.read.parquet(
        queries.ExtendedQueries.scd2AdvancePath(spark, TestSpark.sfTiny) + "/dim")
      .collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      s"streamed dim (${streamed.length} rows) != batch dim (${batch.length})")
  }
}
