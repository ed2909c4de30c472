package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SubstrDedup

/** graft.ops.SubstrDedup — repeated w-token spans across documents
  * must be found exactly (synthetic boilerplate with known token
  * ranges), merged maximally, and stripped without touching unique
  * text; real-corpus run sanity-checks the scale path. */
class SubstrDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val boiler =
    "this content is provided as is without warranty of any kind either express or implied"
  private val boilerLen = boiler.split(" ").length // 15 tokens

  /** Unique filler: deterministic pseudo-words, no token shared with
    * the boilerplate and no repeated window across docs. */
  private def filler(doc: Int, n: Int): String =
    (0 until n).map(i => s"u${doc}x$i").mkString(" ")

  private val docsDf = Seq(
    (1L, s"${filler(1, 6)} $boiler ${filler(1, 4).replace("x", "y")}"),
    (2L, s"$boiler ${filler(2, 9)}"),
    (3L, filler(3, 25)),
    (4L, s"${filler(4, 3)} $boiler")
  ).toDF("doc_id", "text")

  private val w = 8

  test("repeatedSpans finds exactly the boilerplate token ranges") {
    val spans = SubstrDedup.repeatedSpans(
      docsDf, col("text"), col("doc_id"), w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // expected [start, end) token ranges of the boilerplate per doc
    assert(spans == Set(
      (1L, 6L, 6L + boilerLen),
      (2L, 0L, 0L + boilerLen),
      (4L, 3L, 3L + boilerLen)))
  }

  test("overlapping repeated windows merge into ONE maximal span") {
    val spans = SubstrDedup.repeatedSpans(
      docsDf, col("text"), col("doc_id"), w)
    // 15-token boilerplate with w=8 → 8 overlapping repeated windows,
    // one island each — never 8 fragments
    assert(spans.count() == 3)
    assert(spans.filter(col("n_windows") =!= (boilerLen - w + 1)).count() == 0)
  }

  test("stripRepeatedSpans removes the boilerplate and nothing else") {
    val out = SubstrDedup.stripRepeatedSpans(
      docsDf, col("text"), col("doc_id"), w)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) ==
      s"${filler(1, 6)} ${filler(1, 4).replace("x", "y")}")
    assert(out(2L) == filler(2, 9))
    assert(out(3L) == filler(3, 25)) // untouched: no repeated span
    assert(out(4L) == filler(4, 3))
    // no token of the boilerplate survives anywhere
    assert(out.values.forall(t => !t.contains("warranty")))
  }

  test("document shorter than the window yields no windows and passes through") {
    val tiny = Seq((9L, "just three tokens")).toDF("doc_id", "text")
    assert(SubstrDedup.windowHashes(tiny, col("text"), col("doc_id"), w)
      .count() == 0)
    val out = SubstrDedup.stripRepeatedSpans(
      tiny, col("text"), col("doc_id"), w).head()
    assert(out.getString(2) == "just three tokens")
  }

  test("within-doc repetition alone is not cross-document spread") {
    // one doc repeats its own sentence; no other doc shares it
    val selfRep = Seq(
      (1L, s"$boiler $boiler"),
      (2L, filler(2, 30))
    ).toDF("doc_id", "text")
    // minDocs=2 distinct docs — the self-repeat must NOT qualify
    assert(SubstrDedup.repeatedSpans(
      selfRep, col("text"), col("doc_id"), w, minDocs = 2).count() == 0)
  }

  test("incremental registry equals the one-shot spread; new batch scrubbed against history") {
    val statePath = graft.etl.Scratch.dir("graft_substr") + "/registry"
    // fold the corpus in two append-only halves
    val (b1, b2) = (docsDf.filter(col("doc_id") <= 2),
      docsDf.filter(col("doc_id") > 2))
    SubstrDedup.advanceSpread(spark, statePath, b1, col("text"), col("doc_id"), w)
    SubstrDedup.advanceSpread(spark, statePath, b2, col("text"), col("doc_id"), w)
    val folded = spark.read.parquet(statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = SubstrDedup.spreadState(
        docsDf, col("text"), col("doc_id"), w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == oneShot)
    // a brand-new document carrying the historical boilerplate is
    // scrubbed against the registry WITHOUT rescanning old batches —
    // even though nothing repeats within the new batch itself
    val fresh = Seq((100L, s"${filler(100, 5)} $boiler")).toDF("doc_id", "text")
    val out = SubstrDedup.stripAgainstRegistry(
      fresh, col("text"), col("doc_id"), w,
      spark.read.parquet(statePath)).head()
    assert(out.getString(2) == filler(100, 5))
  }

  test("advanceSpreadBatch replay is a no-op; streaming sink folds like one batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("graft_substr_s"))
    val statePath = base.resolve("registry").toString
    val ckpt = base.resolve("ckpt").toString
    // batch-guarded folds: replaying batch 0 must not double counts
    SubstrDedup.advanceSpreadBatch(spark, statePath,
      docsDf.filter(col("doc_id") <= 2), col("text"), col("doc_id"), w, 0L)
    SubstrDedup.advanceSpreadBatch(spark, statePath,
      docsDf.filter(col("doc_id") > 2), col("text"), col("doc_id"), w, 1L)
    val before = spark.read.parquet(statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SubstrDedup.advanceSpreadBatch(spark, statePath,
      docsDf.filter(col("doc_id") <= 2), col("text"), col("doc_id"), w, 0L)
    val after = spark.read.parquet(statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
    assert(before == SubstrDedup.spreadState(
        docsDf, col("text"), col("doc_id"), w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // the streaming twin converges to the same registry
    val statePath2 = base.resolve("registry2").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingPipeline.boilerplateRegistrySink(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", w,
      statePath2, ckpt).start()
    try {
      val rows = docsDf.collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(2).toSeq)
      q.processAllAvailable()
      mem.addData(rows.drop(2).toSeq)
      q.processAllAvailable()
      val streamed = spark.read.parquet(statePath2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == before)
    } finally q.stop()
  }

  test("legacy single-modulus registry is rejected fast; publishes stamp the key space") {
    val base = java.nio.file.Paths.get(graft.etl.Scratch.dir("sdks"))
    // forge a legacy registry: plausible rows, every whash < 2^30,
    // and no keyspace stamp — what the pre-dual build persisted
    val legacyPath = base.resolve("legacy").toString
    Seq((123456789L, 3L), (42L, 2L)).toDF("whash", "n_docs")
      .write.parquet(legacyPath)
    val ex = intercept[IllegalStateException] {
      SubstrDedup.advanceSpread(spark, legacyPath, docsDf,
        col("text"), col("doc_id"), w)
    }
    assert(ex.getMessage.contains("single-modulus"), ex.getMessage)
    // ...and pruning it is equally refused (same silent-restart hazard)
    intercept[IllegalStateException] {
      SubstrDedup.pruneRegistry(spark, legacyPath)
    }
    // ...and so is the READ path: loadRegistry must reject a legacy
    // registry instead of letting stripAgainstRegistry silently scrub
    // nothing against never-matching keys
    intercept[IllegalStateException] {
      SubstrDedup.loadRegistry(spark, legacyPath)
    }
    // a fresh registry gets the stamp at first publish, keeps it
    // across advance + prune, and keeps folding normally
    val freshPath = base.resolve("fresh").toString
    SubstrDedup.advanceSpread(spark, freshPath, docsDf,
      col("text"), col("doc_id"), w)
    def stamped = java.nio.file.Files.exists(
      java.nio.file.Paths.get(freshPath, SubstrDedup.KeyspaceMarker))
    assert(stamped, "first publish must stamp the key space")
    SubstrDedup.advanceSpread(spark, freshPath, docsDf.limit(1),
      col("text"), col("doc_id"), w)
    assert(stamped, "stamp must survive a fold")
    SubstrDedup.pruneRegistry(spark, freshPath)
    assert(stamped, "stamp must survive a prune")
    // guarded read path returns the same rows as a raw read
    assert(SubstrDedup.loadRegistry(spark, freshPath).count() ==
      spark.read.parquet(freshPath).count())
  }

  test("pruneRegistry keeps forward-relevant hashes, drops the dead tail") {
    val statePath = graft.etl.Scratch.dir("graft_substr_p") + "/registry"
    SubstrDedup.advanceSpread(spark, statePath, docsDf,
      col("text"), col("doc_id"), w)
    val before = spark.read.parquet(statePath)
    val nBoiler = before.filter(col("n_docs") >= 2).count()
    val nTail = before.filter(col("n_docs") < 1).count()
    assert(nBoiler > 0 && nTail == 0)
    val kept = SubstrDedup.pruneRegistry(spark, statePath, minDocs = 3)
    val after = spark.read.parquet(statePath)
    // minDocs=3 keeps n_docs >= 2 (can still cross on a future fold)
    assert(kept == after.count())
    assert(after.filter(col("n_docs") < 2).count() == 0)
    assert(after.count() == nBoiler)
    // a fresh doc with the boilerplate still gets scrubbed at minDocs=3
    val fresh = Seq((200L, s"$boiler ${filler(200, 6)}")).toDF("doc_id", "text")
    val out = SubstrDedup.stripAgainstRegistry(fresh, col("text"),
      col("doc_id"), w, after, minDocs = 3).head()
    assert(out.getString(2) == filler(200, 6))
  }

  test("property: planted boilerplate at random offsets is found exactly") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val nDocs = 12
      // which docs carry the plant (always ≥2 so it qualifies)
      val carriers = rnd.shuffle((0 until nDocs).toList)
        .take(2 + rnd.nextInt(nDocs - 2)).toSet
      val plantLen = w + rnd.nextInt(8) // ≥ w tokens so it's detectable
      val plant = (0 until plantLen).map(i => s"boil${seed}x$i").mkString(" ")
      val rows = (0 until nDocs).map { d =>
        val pre = rnd.nextInt(6)   // unique filler before/after
        val post = rnd.nextInt(6)
        val preT = (0 until pre).map(i => s"u${seed}d${d}p$i").mkString(" ")
        val postT = (0 until post).map(i => s"u${seed}d${d}q$i").mkString(" ")
        val text =
          if (carriers(d)) Seq(preT, plant, postT).filter(_.nonEmpty).mkString(" ")
          else ((0 until plantLen + pre + post)
            .map(i => s"u${seed}d${d}z$i")).mkString(" ")
        (d.toLong, text, pre.toLong)
      }
      val df = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      val spans = SubstrDedup.repeatedSpans(df, col("text"), col("doc_id"), w)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(spans.keySet == carriers.map(_.toLong), s"seed=$seed")
      for ((d, _, pre) <- rows if carriers(d.toInt)) {
        // the planted range is exactly [pre, pre + plantLen)
        assert(spans(d) == (pre, pre + plantLen),
          s"seed=$seed doc=$d got ${spans(d)} want ($pre, ${pre + plantLen})")
      }
      // and the scrub removes exactly the plant
      val out = SubstrDedup.stripRepeatedSpans(df, col("text"), col("doc_id"), w)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      for ((d, text, _) <- rows)
        assert(out(d) ==
          (if (carriers(d.toInt))
            text.split(" ").filterNot(_.startsWith("boil")).mkString(" ")
          else text), s"seed=$seed doc=$d")
    }
  }

  test("strip preserves a caller column literally named id") {
    // the span frame's own key rides under a reserved name, so a docs
    // frame with an "id" column neither makes the join ambiguous nor
    // loses its column to the internal drop (round-7 ADVICE)
    val withId = docsDf.withColumnRenamed("doc_id", "id")
    val out = SubstrDedup.stripRepeatedSpans(withId, col("text"), col("id"), w)
    assert(out.columns.toSeq == Seq("id", "text", "text_clean"))
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(3L) == filler(3, 25))          // untouched doc intact
    assert(byId(2L) == filler(2, 9))           // boilerplate stripped
  }

  test("applied-batch markers stay bounded: one per runTag, replay still guarded") {
    val statePath = graft.etl.Scratch.dir("graft_substr_m") + "/registry"
    for (b <- 0 to 3)
      SubstrDedup.advanceSpreadBatch(spark, statePath,
        docsDf.filter(col("doc_id") === b + 1), col("text"), col("doc_id"),
        w, b.toLong)
    val markers = new java.io.File(statePath).listFiles()
      .map(_.getName).filter(_.startsWith("_applied_"))
    assert(markers.toSeq == Seq("_applied_run_3"),
      s"expected one pruned marker, got ${markers.toSeq}")
    // monotone guard: a replay of an OLDER batch (its marker pruned) is
    // still a no-op — batch ids from a checkpointed feed only move forward
    val before = spark.read.parquet(statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SubstrDedup.advanceSpreadBatch(spark, statePath,
      docsDf.filter(col("doc_id") === 1), col("text"), col("doc_id"), w, 0L)
    val after = spark.read.parquet(statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
  }

  test("real corpus: spans are valid ranges and strip shortens only flagged docs") {
    val docs = queries.t(spark, sfTiny, "documents")
      .select("doc_id", "text")
    val spans = SubstrDedup.repeatedSpans(docs, col("text"), col("doc_id"), w)
    val bad = spans.filter(col("start_tok") < 0 ||
      col("end_tok") <= col("start_tok")).count()
    assert(bad == 0)
    val flagged = spans.select("id").distinct().count()
    val out = SubstrDedup.stripRepeatedSpans(
      docs, col("text"), col("doc_id"), w)
    val shortened = out.filter(length(col("text_clean")) < length(col("text")))
      .count()
    assert(shortened == flagged)
    assert(out.count() == docs.count())
  }
}
