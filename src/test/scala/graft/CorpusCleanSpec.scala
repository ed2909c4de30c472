package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CorpusClean

/** The composed cleaning pipeline: each stage drops what it should on
  * a fixture with known language/quality/dup structure, survivors keep
  * the original schema, and the stats frame reconciles. */
class CorpusCleanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // quality text: ≥30 tokens, diverse vocabulary, enough stopwords
  private def goodText(seed: Int) =
    (0 until 35).map(i => if (i % 5 == 0) "the" else s"w$seed$i").mkString(" ")

  private val fixture = Seq(
    (1L, goodText(1)),                     // keeper
    (2L, goodText(2)),                     // keeper
    (3L, goodText(1)),                     // exact dup of 1 → dropped
    (4L, goodText(2) + " extraword"),      // near dup of 2 → dropped
    (5L, "uno dos tres"),                  // non-en (no stopwords) → dropped
    (6L, ("the " * 40).trim)               // en but zero diversity → dropped
  ).toDF("doc_id", "text")

  test("stages drop language, quality, exact and near duplicates") {
    val out = CorpusClean.clean(fixture, col("text"), col("doc_id"))
    try {
      val kept = out.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L), kept.toString)
      // original schema preserved
      assert(out.docs.columns.toSeq == Seq("doc_id", "text"))
    } finally out.release()
  }

  test("near-dup banding key space cannot saturate (md5 band keys, wide defaults)") {
    // clean()'s near-dup stage bands MinHash minima through md5 — a
    // 2^128 key space, so corpus growth splits buckets instead of
    // exhausting a fixed band vocabulary (the r8 SimHash-32/LSH-8
    // saturation class). Assert the key shape that carries the
    // property, plus the r9 wide library defaults on the
    // width-sensitive operators clean() does NOT use.
    val bands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minHashSignatures(fixture, col("text"), col("doc_id")), 8, 2)
    assert(bands.select("h").collect().forall(
      r => r.getString(0).length == 32 &&
        r.getString(0).forall(c => c.isDigit || ('a' to 'f').contains(c))))
    // wide defaults (width-sensitive ops): 64-bit SimHash, 16-bit LSH
    val sig = graft.ops.Dedup.simHashSignatures(fixture, col("text"), col("doc_id"))
      .select("simhash").head.getString(0)
    assert(sig.length == 64)
  }

  test("connected components: transitive chains collapse to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L)).toDF("id1", "id2")
    val comp = graft.ops.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2-3-4 chain all labels 1 (even though 1 and 4 never pair);
    // 5-6 labels 5; ids not in any pair are absent
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L),
      comp.toString)
  }

  test("connected-components mode keeps one canonical doc per dup group") {
    val out = CorpusClean.clean(fixture, col("text"), col("doc_id"),
      CorpusClean.Config(useConnectedComponents = true))
    try {
      val kept = out.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L), kept.toString)
    } finally out.release()
  }

  test("stage stats reconcile in → out per stage") {
    val out = CorpusClean.clean(fixture, col("text"), col("doc_id"))
    try {
      val stats = out.stageStats().collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(stats("language") == (6L, 5L))    // doc 5 dropped
      assert(stats("quality") == (5L, 4L))     // doc 6 dropped
      assert(stats("exact_dedup") == (4L, 3L)) // doc 3 dropped
      assert(stats("near_dedup") == (3L, 2L))  // doc 4 dropped
      // chain property: each stage's input is the previous stage's output
      val order = Seq("language", "quality", "exact_dedup", "near_dedup")
      order.sliding(2).foreach { case Seq(a, b) =>
        assert(stats(a)._2 == stats(b)._1, s"$a out != $b in")
      }
      // no eval corpus supplied → no decontamination stage reported
      assert(!stats.contains("decontaminate"))
    } finally out.release()
  }

  test("eval corpus adds a decontamination stage that drops leaked docs") {
    // eval doc shares doc 1's text (>= 5 shared 3-grams); doc 2 clean
    val evalCorpus = Seq((100L, goodText(1) + " evaltail")).toDF("doc_id", "text")
    val out = CorpusClean.clean(fixture, col("text"), col("doc_id"),
      CorpusClean.Config(), evalCorpus = Some(evalCorpus))
    try {
      val kept = out.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L), s"doc 1 leaks into eval and must drop: $kept")
      val stats = out.stageStats().collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(stats("near_dedup") == (3L, 2L))
      assert(stats("decontaminate") == (2L, 1L))
    } finally out.release()
  }

  test("frame-bound columns work with a foreign eval corpus (rebind by name)") {
    val evalCorpus = Seq((100L, goodText(1) + " evaltail")).toDF("doc_id", "text")
    // docs("text") is bound to `fixture` — stage 5 must rebind it by
    // name before applying it to the unrelated eval frame
    val out = CorpusClean.clean(fixture, fixture("text"), fixture("doc_id"),
      CorpusClean.Config(), evalCorpus = Some(evalCorpus))
    try {
      val kept = out.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L), kept.toString)
    } finally out.release()
  }

  test("scrubBoilerplate strips survivor-shared chrome without breaking dedup") {
    val chrome = (0 until 10).map(i => s"nav$i").mkString(" ")
    // bodies start with a seed-unique token so the repeated span ends
    // exactly at the chrome (goodText starts with the shared "the",
    // which would legitimately extend the span by one token)
    def body(seed: Int) = s"b$seed ${goodText(seed)}"
    val withChrome = Seq(
      (1L, s"$chrome ${body(1)}"),   // keeper, shares chrome with 2
      (2L, s"$chrome ${body(2)}"),   // keeper, distinct body
      (3L, s"$chrome ${body(1)}")    // exact dup of 1 → dropped FIRST
    ).toDF("doc_id", "text")
    val out = CorpusClean.clean(withChrome, col("text"), col("doc_id"),
      CorpusClean.Config(scrubBoilerplate = true, boilerplateWindow = 8))
    try {
      val kept = out.docs.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // dedup kept one copy of the dup pair BEFORE the scrub ran —
      // the scrub never shreds a near/exact dup pair's shared content
      assert(kept.keySet == Set(1L, 2L))
      // the chrome shared by the two DISTINCT survivors is gone,
      // their bodies intact
      assert(kept(1L) == body(1), kept(1L))
      assert(kept(2L) == body(2), kept(2L))
      // schema unchanged
      assert(out.docs.columns.toSeq == Seq("doc_id", "text"))
    } finally out.release()
  }

  test("scrubBoilerplate accepts plain and frame-bound text columns") {
    // the r9 snapshot regression: the guard matched the catalyst
    // expression layer, where Spark 4 wraps plain col("text") in a
    // lazy ColumnNodeExpression — so EVERY caller was rejected. Both
    // plain-attribute spellings must pass the guard (node-level match).
    for (textCol <- Seq(col("text"), fixture("text"))) {
      val out = CorpusClean.clean(fixture, textCol, col("doc_id"),
        CorpusClean.Config(scrubBoilerplate = true, boilerplateWindow = 8))
      try assert(out.docs.count() == 2L)
      finally out.release()
    }
  }

  test("clean's spilled drop list: same survivors, published under the scratch root, nothing pinned after release") {
    // dropListThreshold = 0 forces clean() through the size guard's
    // publish arm — the drop list clean() broadcast unguarded before
    // it shared accounting()'s drop-list step
    def pinned: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def dropLists: Set[java.io.File] = Option(graft.etl.Scratch.root.toFile.listFiles())
      .fold(Set.empty[java.io.File])(_.filter(_.getName.startsWith("droplist")).toSet)
    val docs = spark.read.parquet(TestSpark.sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    def survivors(cfg: CorpusClean.Config): Array[Long] = {
      val out = CorpusClean.clean(docs, col("text"), col("doc_id"), cfg)
      try out.docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      finally out.release()
    }
    val expected = survivors(CorpusClean.Config())
    val (listsBefore, pinnedBefore) = (dropLists, pinned)
    // SQL executions whose plan holds the LSH band self-join: the size
    // probe must be the only one — the publish re-reads the probe's
    // final stage instead of re-running the band join and the verify
    val bandJoins = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.collect { case j: Join => j }.exists(
            _.condition.exists(_.references.exists(_.name == "band"))))
          bandJoins.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val spilled =
      try survivors(CorpusClean.Config(dropListThreshold = 0))
      finally {
        org.apache.spark.status.StatusBridge.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(spilled.sameElements(expected),
      s"spilled arm keeps ${spilled.length} docs, the gathered arm ${expected.length}")
    assert(bandJoins.get == 1,
      s"${bandJoins.get} executions ran the band self-join; the spilled arm must run it once")
    val published = dropLists -- listsBefore
    assert(published.size == 1 && new java.io.File(published.head, "ids/_SUCCESS").exists(),
      s"expected one published drop list under ${graft.etl.Scratch.root}: $published")
    assert((pinned -- pinnedBefore).isEmpty,
      s"blocks still pinned after release: ${pinned -- pinnedBefore}")
  }

  test("cleanedCorpus memo serves exactly CorpusClean.clean's survivor set") {
    // the clean-once/derive-many memo (q_train_pipeline's input)
    // swap-publishes the survivor ids as parquet, releases the
    // pipeline pins, and serves a DISTRIBUTED semi-join against the
    // published table — its doc set must equal a direct clean() run's,
    // or every derivation downstream silently drifts
    // plain read (clean() is partitioning-invariant — partcheck-proven),
    // equivalent rows to the memo's docProfile input
    val docs = spark.read.parquet(TestSpark.sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val direct = CorpusClean.clean(docs, col("text"), col("doc_id"))
    val directIds =
      try direct.docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      finally direct.release()
    val memo = queries.ExtendedQueries.cleanedCorpus(spark, TestSpark.sfTiny)
    val memoIds = memo.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(memoIds.sameElements(directIds),
      s"memo ${memoIds.length} docs vs direct ${directIds.length}")
  }

  test("cleanedCorpus memo: survivors come from the PUBLISHED parquet, never a driver collect") {
    // the 100 TB contract (r15 verdict #1): the keep set is O(corpus),
    // so the memo must never materialize it on the driver. The old
    // collect()+broadcast form left a LocalRelation/LocalTableScan
    // leaf (driver-built rows shipped back out in the task closure);
    // the swap-published form's plan leaves are file scans only, one
    // of them the published survivor-id table.
    val memo = queries.ExtendedQueries.cleanedCorpus(spark, TestSpark.sfTiny)
    val idsDir = queries.ExtendedQueries
      .cleanedSurvivorIdsPath(spark, TestSpark.sfTiny)
    // the ANALYZED plan: cache substitution has not run yet there, so
    // the memo's true lineage (not an InMemoryRelation wrapper) is
    // what the leaves reflect
    val optimized = memo.queryExecution.analyzed
    val leaves = optimized.collectLeaves()
    assert(!optimized.toString.contains("LocalRelation"),
      s"driver-materialized rows in the memo plan:\n$optimized")
    val scansIds = leaves.exists {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains(idsDir))
          case _ => false
        }
      case l => l.toString.contains(idsDir)
    }
    assert(scansIds,
      s"memo plan does not read the published survivor table $idsDir:\n$optimized")
    // and the published state is a real swap-published parquet dir
    // (complete write: _SUCCESS present under <memo>/ids)
    assert(new java.io.File(idsDir, "ids/_SUCCESS").exists(),
      s"no _SUCCESS marker under $idsDir/ids")
  }

  test("scrubBoilerplate rejects a derived column aliased to its source name") {
    // lower(col("text")).as("text") passes a NAME check but would make
    // the scrub silently overwrite the original column with a scrub of
    // the TRANSFORMED text — the guard must reject it with the hint
    val ex = intercept[IllegalArgumentException] {
      CorpusClean.clean(fixture, lower(col("text")).as("text"), col("doc_id"),
        CorpusClean.Config(scrubBoilerplate = true))
    }
    assert(ex.getMessage.contains("PLAIN text column"), ex.getMessage)
  }
}
