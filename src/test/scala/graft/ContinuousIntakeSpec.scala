package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SketchRollup
import graft.ops.SubstrDedup
import graft.sources.CorpusIO

/** Integration: the continuous-crawl intake path composed from the
  * round's pieces — JSONL shards arrive, each micro-batch splits
  * clean/quarantine, and the clean side folds BOTH incremental states
  * (corpus sketch rollup + boilerplate registry) idempotently. The
  * end state must equal a one-shot batch build over the union of all
  * clean rows: continuous operation converges to the batch truth. */
class ContinuousIntakeSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  private val cols = SketchRollup.Columns("doc_id", "doc_id", "text")

  test("streamed intake converges to the one-shot batch states") {
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_intake"))
    val inDir = base.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val sketchPath = base.resolve("sketch").toString
    val registryPath = base.resolve("registry").toString
    val ckpt = base.resolve("ckpt").toString

    val boiler = "copyright two thousand twenty six all rights reserved " +
      "reproduction prohibited without permission"
    def doc(id: Long, lang: String, body: String, withBoiler: Boolean) = {
      val text = if (withBoiler) s"$body $boiler" else body
      s"""{"doc_id": $id, "text": "$text", "lang": "$lang"}"""
    }
    val shard1 = Seq(
      doc(1, "en", "alpha beta gamma delta epsilon", withBoiler = true),
      doc(2, "en", "one two three four five six", withBoiler = false),
      "BROKEN {{{").mkString("\n")
    val shard2 = Seq(
      doc(3, "de", "eins zwei drei vier funf", withBoiler = true),
      doc(4, "en", "seven eight nine ten eleven", withBoiler = true)).mkString("\n")

    val parsed = CorpusIO.readJsonlStream(spark, inDir.toString, schema)
    var quarantined = 0L
    val q = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val clean = CorpusIO.cleanRows(batch, schema)
        SketchRollup.advanceBatch(batch.sparkSession, sketchPath,
          clean, Seq("lang"), cols, batchId)
        SubstrDedup.advanceSpreadBatch(batch.sparkSession, registryPath,
          clean, col("text"), col("doc_id"), 8, batchId)
        quarantined += CorpusIO.quarantinedLines(batch).count()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      java.nio.file.Files.writeString(inDir.resolve("s1.jsonl"), shard1)
      q.processAllAvailable()
      java.nio.file.Files.writeString(inDir.resolve("s2.jsonl"), shard2)
      q.processAllAvailable()
    } finally q.stop()
    assert(quarantined == 1L)

    // one-shot truth over the union of clean rows
    val allClean = CorpusIO.readJsonl(spark, inDir.toString, schema)._1

    // sketch state: deterministic fields equal the batch build
    def det(state: DataFrame): Map[String, (Long, Long)] =
      SketchRollup.finalizeState(state, Seq("lang")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(det(spark.read.parquet(sketchPath)) ==
      det(SketchRollup.partialState(allClean, Seq("lang"), cols)))

    // registry: equals the one-shot spread, and scrubs a future doc
    // carrying the streamed-in boilerplate
    val folded = spark.read.parquet(registryPath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = SubstrDedup.spreadState(
        allClean, col("text"), col("doc_id"), 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == oneShot)
    import spark.implicits._
    val fresh = Seq((99L, s"brand new unique content here $boiler"))
      .toDF("doc_id", "text")
    val scrubbed = SubstrDedup.stripAgainstRegistry(fresh, col("text"),
      col("doc_id"), 8, spark.read.parquet(registryPath), minDocs = 3)
      .head().getString(2)
    assert(scrubbed == "brand new unique content here", scrubbed)
  }
}
