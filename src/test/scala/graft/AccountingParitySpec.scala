package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CorpusClean.accounting` (the one-job lazy plan behind
  * q_corpus_clean since r16) must return EXACTLY what the eager
  * `clean()`+`stageStats()`+digest composition returns — same stage
  * rows, same counts, same survivor md5 — or the declared accounting
  * silently diverges from the pipeline it claims to describe. */
class AccountingParitySpec extends AnyFunSuite {
  import TestSpark._

  test("accounting() equals clean()+stageStats()+digest on the test corpus") {
    val docs = spark.read.parquet(sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cleaned = ops.CorpusClean.clean(docs, col("text"), col("doc_id"))
    val (eagerRows, eagerDigest) =
      try {
        val stats = cleaned.stageStats().orderBy(col("stage")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val digest = cleaned.docs
          .agg(md5(concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string"))).cast("binary")).as("m"))
          .head.getString(0)
        (stats, digest)
      } finally cleaned.release()
    val acc = ops.CorpusClean.accounting(docs, col("text"), col("doc_id"))
      .orderBy(col("stage")).collect()
    assert(acc.length == 4, acc.mkString("\n"))
    val accRows = acc.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(accRows.sameElements(eagerRows),
      s"stage counts diverge:\n one-job: ${accRows.mkString(", ")}\n" +
        s" eager:   ${eagerRows.mkString(", ")}")
    val accDigests = acc.map(_.getString(3)).distinct
    assert(accDigests.sameElements(Array(eagerDigest)),
      s"survivor digest diverges: ${accDigests.mkString(",")} vs $eagerDigest")
  }

  test("accounting() parity holds at non-default configs (thresholds, bands, shingles)") {
    // the restructured accounting re-derives every stage from flag
    // columns + a re-built LSH subtree — a config plumbed to one side
    // but not the other (bands count, shingle length, gate
    // thresholds) would pass the defaults-only parity test and drift
    // silently in production configs
    val docs = spark.read.parquet(sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (cfg <- Seq(
        ops.CorpusClean.Config(minTokens = 10, minTtr = 0.1,
          jaccardThreshold = 0.5),
        ops.CorpusClean.Config(numHashes = 8, bands = 4, shingleLen = 2,
          langThreshold = 0.02))) {
      val cleaned = ops.CorpusClean.clean(docs, col("text"), col("doc_id"), cfg)
      val (eagerRows, eagerDigest) =
        try {
          val stats = cleaned.stageStats().orderBy(col("stage")).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          val digest = cleaned.docs
            .agg(md5(concat_ws(",",
              transform(array_sort(collect_list(col("doc_id"))),
                x => x.cast("string"))).cast("binary")).as("m"))
            .head.getString(0)
          (stats, digest)
        } finally cleaned.release()
      val acc = ops.CorpusClean.accounting(docs, col("text"), col("doc_id"), cfg)
        .orderBy(col("stage")).collect()
      val accRows = acc.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(accRows.sameElements(eagerRows),
        s"stage counts diverge at $cfg:\n one-job: ${accRows.mkString(", ")}\n" +
          s" eager:   ${eagerRows.mkString(", ")}")
      assert(acc.map(_.getString(3)).distinct.sameElements(Array(eagerDigest)),
        s"survivor digest diverges at $cfg")
    }
  }

  test("accounting() parity holds through the SPILLED drop-list arm (threshold forced to 0)") {
    // dropListThreshold = 0 forces every drop id through the
    // swap-published parquet + distributed-join arm — the 100 TB path
    // for pathological near-dup corpora where |verified pairs| ~
    // |corpus|. Parity with the eager pipeline must hold bit-for-bit
    // (same counts, same survivor digest), and the published list
    // must actually exist under the caller-provided dir.
    val docs = spark.read.parquet(sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val cleaned = ops.CorpusClean.clean(docs, col("text"), col("doc_id"))
    val (eagerRows, eagerDigest) =
      try {
        val stats = cleaned.stageStats().orderBy(col("stage")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val digest = cleaned.docs
          .agg(md5(concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string"))).cast("binary")).as("m"))
          .head.getString(0)
        (stats, digest)
      } finally cleaned.release()
    val dir = graft.etl.Scratch.dir("graft_droplist_spec")
    val acc = ops.CorpusClean.accounting(docs, col("text"), col("doc_id"),
        dropListThreshold = 0, dropListDir = Some(dir))
      .orderBy(col("stage")).collect()
    val accRows = acc.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(accRows.sameElements(eagerRows),
      s"stage counts diverge through the spilled arm:\n" +
        s" one-job: ${accRows.mkString(", ")}\n" +
        s" eager:   ${eagerRows.mkString(", ")}")
    assert(acc.map(_.getString(3)).distinct.sameElements(Array(eagerDigest)),
      "survivor digest diverges through the spilled arm")
    // the ids really published (complete-or-absent: _SUCCESS present)
    val published = spark.read.parquet(s"$dir/ids")
    assert(published.columns.sameElements(Array("__drop_id")))
    assert(published.count() > 0, "spilled arm published an empty drop list " +
      "on a corpus whose eager pipeline drops near-dups")
  }

  test("accounting() on an empty corpus reports zeros, not nulls") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val rows = ops.CorpusClean.accounting(empty, col("text"), col("doc_id"))
      .orderBy(col("stage")).collect()
    assert(rows.length == 4)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L),
      rows.mkString("\n"))
  }

  test("a non-local master requires an explicit dropListDir; local keeps the temp default") {
    // pure-guard pin (r17 ADVICE): the spilled arm's JVM-temp default
    // is driver-local — on a cluster, executors would publish a
    // silently PARTIAL drop list there. The guard must reject exactly
    // the (non-local, no explicit dir) corner and nothing else.
    ops.CorpusClean.validateDropListDir(masterIsLocal = true, None)
    ops.CorpusClean.validateDropListDir(masterIsLocal = true, Some("/x"))
    ops.CorpusClean.validateDropListDir(masterIsLocal = false, Some("/x"))
    val ex = intercept[IllegalArgumentException] {
      ops.CorpusClean.validateDropListDir(masterIsLocal = false, None)
    }
    assert(ex.getMessage.contains("cluster-visible"), ex.getMessage)
  }

  test("accounting() rejects the connected-components configuration") {
    val docs = spark.read.parquet(sfTiny + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ex = intercept[IllegalArgumentException] {
      ops.CorpusClean.accounting(docs, col("text"), col("doc_id"),
        ops.CorpusClean.Config(useConnectedComponents = true))
    }
    assert(ex.getMessage.contains("one-job"), ex.getMessage)
  }
}
