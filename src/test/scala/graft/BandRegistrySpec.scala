package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Incremental whole-document near-dedup via the persisted LSH band
  * registry: history folds batch by batch, a fresh crawl surfaces its
  * near-dups against ALL history from keys only, replay is a no-op,
  * and a params mismatch fails fast instead of silently matching
  * nothing. */
class BandRegistrySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def doc(seed: Int, n: Int = 40): String =
    (0 until n).map(i => if (i % 5 == 0) "the" else s"w$seed$i").mkString(" ")

  private val batch1 = Seq(
    (1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
  private val batch2 = Seq(
    (3L, doc(3)), (4L, doc(4))).toDF("doc_id", "text")

  test("fold history, surface a fresh batch's near-dups, replay is a no-op") {
    val path = graft.etl.Scratch.dir("bandreg") + "/reg"
    val n1 = Dedup.advanceBandRegistry(spark, path, batch1,
      col("text"), col("doc_id"))
    val n2 = Dedup.advanceBandRegistry(spark, path, batch2,
      col("text"), col("doc_id"))
    assert(n2 > n1, "second batch must add band rows")
    // set-fold idempotency: replaying batch2 changes nothing
    val n2again = Dedup.advanceBandRegistry(spark, path, batch2,
      col("text"), col("doc_id"))
    assert(n2again == n2, s"replay grew the registry: $n2 -> $n2again")

    // fresh crawl: 10 is a near-dup of history doc 1 (one appended
    // token), 11 is unrelated — candidates come from keys only
    val crawl = Seq(
      (10L, doc(1) + " extra"),
      (11L, doc(99))).toDF("doc_id", "text")
    val reg = Dedup.loadBandRegistry(spark, path)
    val cands = Dedup.candidatesAgainstRegistry(
        crawl, col("text"), col("doc_id"), reg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((10L, 1L)), s"near-dup must surface: $cands")
    assert(!cands.exists(_._1 == 11L), s"unrelated doc must not pair: $cands")

    // exact verification phase: point-fetch just the candidate
    // history docs and Jaccard-verify — the LSH-bounded second phase
    val histIds = cands.map(_._2)
    val hist = batch1.unionByName(batch2)
      .filter(col("doc_id").isin(histIds.toSeq: _*))
    val sets = Dedup.shingleSets(crawl.unionByName(hist), col("text"), col("doc_id"))
    val pairs = cands.toSeq.toDF("id1", "id2")
    val verified = Dedup.jaccardPairs(sets, pairs.select(
        least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2")))
      .filter(col("jac") >= 0.8)
      .collect()
    assert(verified.nonEmpty, "the true near-dup must verify at 0.8")
  }

  test("streaming sink converges to the batch registry; restart replays are free") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("bandreg_s"))
    val batchPath = base.resolve("batch").toString
    val streamPath = base.resolve("stream").toString
    val all = batch1.unionByName(batch2)
    Dedup.advanceBandRegistry(spark, batchPath, all,
      col("text"), col("doc_id"))
    val expected = spark.read.parquet(batchPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingPipeline.bandRegistrySink(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      streamPath, base.resolve("ckpt").toString).start()
    try {
      val rows = all.collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(2).toSeq)
      q.processAllAvailable()
      mem.addData(rows.drop(2).toSeq)
      q.processAllAvailable()
      val streamed = spark.read.parquet(streamPath)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == expected,
        "micro-batched folds must equal the one-shot batch registry")
    } finally q.stop()
    // replay-at-will: re-folding an already-seen slice (what a wiped
    // checkpoint would cause) leaves the registry bit-identical — the
    // set-fold needs no marker discipline
    Dedup.advanceBandRegistry(spark, streamPath, batch1,
      col("text"), col("doc_id"))
    val after = spark.read.parquet(streamPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after == expected)
  }

  test("params mismatch and unstamped registries are rejected fast") {
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("bandreg2"))
    val path = base.resolve("reg").toString
    Dedup.advanceBandRegistry(spark, path, batch1,
      col("text"), col("doc_id"), numHashes = 8, bands = 2)
    // registry stamped at (8,2,3): folding or loading at (8,4,3) must
    // fail fast — its band keys would never match
    intercept[IllegalStateException] {
      Dedup.advanceBandRegistry(spark, path, batch2,
        col("text"), col("doc_id"), numHashes = 8, bands = 4)
    }
    intercept[IllegalStateException] {
      Dedup.loadBandRegistry(spark, path, numHashes = 8, bands = 4)
    }
    // a foreign/unstamped parquet dir is rejected too
    val alien = base.resolve("alien").toString
    Seq((1L, 0L, "aa")).toDF("id", "band", "h").write.parquet(alien)
    intercept[IllegalStateException] {
      Dedup.loadBandRegistry(spark, alien)
    }
    // matching params keep working
    assert(Dedup.loadBandRegistry(spark, path).count() > 0)
  }

  test("load recovers an interrupted publish instead of misreading it as a params mismatch") {
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("bandreg3"))
    val path = base.resolve("reg").toString
    Dedup.advanceBandRegistry(spark, path, batch1, col("text"), col("doc_id"))
    val expected = Dedup.loadBandRegistry(spark, path).count()
    // simulate a crash in the publish delete->rename gap: the live dir
    // is gone, the complete stamped fold sits under the tmp name
    val live = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + "__advancing")
    java.nio.file.Files.move(live, tmp)
    // the guarded load must PROMOTE the tmp (Swap.recover), not throw
    // the params-mismatch error at an empty live dir
    assert(Dedup.loadBandRegistry(spark, path).count() == expected)
    assert(java.nio.file.Files.exists(live) && !java.nio.file.Files.exists(tmp))
  }
}
