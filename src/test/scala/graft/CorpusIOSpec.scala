package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CorpusIO

/** graft.sources.CorpusIO — JSONL ingest must quarantine malformed
  * lines (not null them into the corpus), tolerate missing/extra
  * fields per the JSON contract, and round-trip through the
  * compressed shard writer. */
class CorpusIOSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  test("malformed lines are quarantined with their source file, clean rows parse") {
    val dir = graft.etl.Scratch.dir("graft_jsonl")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "shard0.jsonl"),
      """{"doc_id": 1, "text": "hello world", "lang": "en"}
        |not json at all
        |{"doc_id": 2, "text": "bonjour", "lang": "fr", "extra": 9}
        |{"doc_id": 3, "text": "missing lang"}
        |{"broken": [unclosed
        |""".stripMargin)
    val (clean, quarantine) = CorpusIO.readJsonl(spark, dir, schema)
    val rows = clean.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    // extra fields ignored, missing fields null — standard JSON contract
    assert(rows == Set(
      (1L, "hello world", Some("en")),
      (2L, "bonjour", Some("fr")),
      (3L, "missing lang", None)))
    val bad = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(bad.length == 2)
    assert(bad.exists(_._1.contains("not json at all")))
    assert(bad.exists(_._1.contains("unclosed")))
    assert(bad.forall(_._2.contains("shard0.jsonl")))
  }

  test("the JSON literal null is quarantined, never an all-null clean row") {
    // `null` is VALID JSON, so from_json yields a null STRUCT instead
    // of a corrupt record — unguarded, it passed the corrupt filter
    // and materialized as a silent all-null "clean" document
    val dir = graft.etl.Scratch.dir("graft_jsonl_null")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "shard0.jsonl"),
      """{"doc_id": 1, "text": "real", "lang": "en"}
        |null
        |""".stripMargin)
    val (clean, quarantine) = CorpusIO.readJsonl(spark, dir, schema)
    assert(clean.count() == 1 && clean.head.getLong(0) == 1L)
    val bad = quarantine.collect().map(_.getString(0))
    assert(bad.toSeq == Seq("null"), bad.mkString("|"))
  }

  test("write/read round-trip through zstd shards preserves the corpus") {
    val dir = graft.etl.Scratch.dir("graft_jsonl_rt") + "/out"
    val docs = queries.t(spark, sfTiny, "documents")
      .select("doc_id", "text", "lang")
    CorpusIO.writeJsonl(docs, dir, shards = 3)
    // zstd shards (the default codec), bounded count
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json.zst"))
    assert(files.length == 3, files.map(_.getName).mkString(", "))
    val (back, quarantine) = CorpusIO.readJsonl(spark, dir, schema)
    assert(quarantine.count() == 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(back) == canon(docs))
  }

  test("a directory mixing zstd, gzip, and plain shards reads in one pass") {
    // codec is resolved per FILE from its extension, so a corpus
    // re-exported incrementally under different codecs stays one
    // readable directory
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_jsonl_mix"))
    val mixed = base.resolve("mixed"); java.nio.file.Files.createDirectory(mixed)
    val docs = queries.t(spark, sfTiny, "documents")
      .select("doc_id", "text", "lang")
    val parts = Seq(
      ("zstd", docs.filter(col("doc_id") % 3 === 0)),
      ("gzip", docs.filter(col("doc_id") % 3 === 1)),
      ("none", docs.filter(col("doc_id") % 3 === 2)))
    for (((codec, part), i) <- parts.zipWithIndex) {
      val sub = base.resolve(s"part$i").toString
      CorpusIO.writeJsonl(part, sub, shards = 1, codec = codec)
      new java.io.File(sub).listFiles()
        .filter(f => f.getName.startsWith("part-"))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          mixed.resolve(f.getName)))
    }
    val names = mixed.toFile.listFiles().map(_.getName)
    assert(names.exists(_.endsWith(".json.zst")) &&
      names.exists(_.endsWith(".json.gz")) &&
      names.exists(_.endsWith(".json")), names.mkString(", "))
    val (back, quarantine) = CorpusIO.readJsonl(spark, mixed.toString, schema)
    assert(quarantine.count() == 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(back) == canon(docs))
  }

  test("streaming intake splits arriving shards into clean and quarantine") {
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_jsonl_s"))
    val inDir = base.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val ckpt = base.resolve("ckpt").toString
    val parsed = CorpusIO.readJsonlStream(spark, inDir.toString, schema)
    var cleanTotal = 0L; var badTotal = 0L
    val q = parsed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        cleanTotal += CorpusIO.cleanRows(batch, schema).count()
        badTotal += CorpusIO.quarantinedLines(batch).count()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      java.nio.file.Files.writeString(inDir.resolve("a.jsonl"),
        """{"doc_id": 1, "text": "one", "lang": "en"}
          |garbage line
          |""".stripMargin)
      q.processAllAvailable()
      java.nio.file.Files.writeString(inDir.resolve("b.jsonl"),
        """{"doc_id": 2, "text": "two", "lang": "fr"}
          |{"doc_id": 3, "text": "three", "lang": "de"}
          |""".stripMargin)
      q.processAllAvailable()
      assert(cleanTotal == 3 && badTotal == 1, s"($cleanTotal, $badTotal)")
    } finally q.stop()
  }

  test("the DECLARED q_jsonl_quarantine layout mixes codecs and quarantines exactly the corrupted ids") {
    val sf = "/root/testdata/sf0.001"
    val dir = graft.queries.ExtendedQueries.jsonlLayoutPath(spark, sf)
    // the layout is genuinely mixed-codec: zstd shards from
    // writeJsonl, one gzip text shard of truncated lines
    val files = new java.io.File(s"$dir/shards").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(files.exists(_.endsWith(".zst")), files.mkString(","))
    assert(files.exists(_.endsWith(".gz")), files.mkString(","))
    val out = SparkEntry.queries("q_jsonl_quarantine")(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    assert(out.length == n, s"${out.length} vs $n")
    val quarantined = out.filter(_.getString(1) == "__quarantined")
      .map(_.getLong(0)).toSet
    val expected = docs.filter(col("doc_id") % 97 === 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(quarantined == expected)
    // every quarantined row carries a null digest; every clean row a
    // real one (a silently-nulled parse would surface here)
    assert(out.filter(_.getString(1) == "__quarantined").forall(_.isNullAt(2)))
    assert(out.filter(_.getString(1) != "__quarantined").forall(r =>
      r.getString(2) != null && r.getString(2).length == 32))
  }

  test("intake folds: clean upserts by key, dead letters set-fold, redelivery is a no-op") {
    import spark.implicits._
    val dest = graft.etl.Scratch.dir("graft_intake")
    val cleanA = Seq((1L, "en", "one"), (2L, "fr", "two"))
      .toDF("doc_id", "lang", "text")
    val quarA = Seq(("{bad1", "f0")).toDF("raw_line", "file")
    CorpusIO.advanceIntake(spark, dest, "doc_id", cleanA, quarA)
    // redeliver batch A verbatim (the checkpointed at-least-once
    // case) — both published sides must be byte-identical no-ops
    CorpusIO.advanceIntake(spark, dest, "doc_id", cleanA, quarA)
    def cleanSet = spark.read.parquet(s"$dest/clean")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    def quarSet = spark.read.parquet(s"$dest/quarantine")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cleanSet == Set((1L, "en", "one"), (2L, "fr", "two")))
    assert(quarSet == Set(("{bad1", "f0")))
    // batch B re-crawls doc 2 with a newer parse and adds doc 3 — the
    // upsert must take the newer row, the set-fold the new dead letter
    val cleanB = Seq((2L, "fr", "two-v2"), (3L, "de", "three"))
      .toDF("doc_id", "lang", "text")
    val quarB = Seq(("{bad2", "f1"), ("{bad1", "f0")).toDF("raw_line", "file")
    CorpusIO.advanceIntake(spark, dest, "doc_id", cleanB, quarB)
    assert(cleanSet == Set((1L, "en", "one"), (2L, "fr", "two-v2"),
      (3L, "de", "three")))
    assert(quarSet == Set(("{bad1", "f0"), ("{bad2", "f1")))
  }

  test("reserved corrupt column name in the schema is rejected") {
    intercept[IllegalArgumentException] {
      CorpusIO.readJsonl(spark, "/tmp/nope", StructType(Seq(
        StructField("__corrupt", StringType))))
    }
  }
}
