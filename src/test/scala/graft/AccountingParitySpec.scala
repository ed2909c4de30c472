package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CorpusClean.accounting` (the one-job lazy plan behind
  * q_corpus_clean) and `clean()`+`stageStats()`+digest share their
  * steps, so agreeing with each other proves little on its own. Both
  * must equal an INDEPENDENT reference built from the public `Dedup`
  * operators — same stage rows, same counts, same survivor md5 — or
  * the declared accounting silently diverges from the pipeline it
  * claims to describe. */
class AccountingParitySpec extends AnyFunSuite {
  import TestSpark._

  private type Stages = Seq[(String, Long, Long)]

  private def corpus: DataFrame = spark.read.parquet(sfTiny + "/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The pipeline from the public operators, nothing shared with
    * `CorpusClean`'s private steps: filters, `dedupExact`, then
    * `shingles` → `minHashSignaturesFast` → `lshBands` → distinct
    * band self-join → `jaccardFromShingles` ≥ threshold → greedy
    * higher-id drop. Stage rows ordered by name, survivor digest. */
  private def reference(docs: DataFrame, cfg: ops.CorpusClean.Config): (Stages, String) = {
    import ops.Dedup
    val (text, id) = (col("text"), col("doc_id"))
    val lang = docs.filter(ops.TextAnalysis.langId(
      text, cfg.stopwords, cfg.lang, cfg.langThreshold) === cfg.lang)
    val qual = lang.filter(
      ops.TextAnalysis.qualityOk(text, cfg.minTokens, cfg.minTtr, cfg.stopwords))
    val exact = Dedup.dedupExact(qual, text, id)
    val sh = Dedup.shingles(exact, text, id, cfg.shingleLen)
    val bands = Dedup.lshBands(
      Dedup.minHashSignaturesFast(sh, cfg.numHashes), cfg.numHashes, cfg.bands)
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
    val drops = Dedup.jaccardFromShingles(sh, Some(cands))
      .filter(col("jac") >= cfg.jaccardThreshold)
      .select(col("id2")).collect().map(_.getLong(0)).toSet
    val exactIds = exact.select(id).collect().map(_.getLong(0))
    val near = exactIds.filterNot(drops).sorted
    val counts = Seq(docs.count(), lang.count(), qual.count(),
      exactIds.length.toLong, near.length.toLong)
    val rows = Seq("language", "quality", "exact_dedup", "near_dedup")
      .zip(counts.sliding(2).toSeq).map { case (s, Seq(in, out)) => (s, in, out) }
    (rows.sortBy(_._1), md5Hex(near.mkString(",")))
  }

  /** clean()'s stage rows (ordered by name) and survivor digest. */
  private def viaClean(docs: DataFrame, cfg: ops.CorpusClean.Config): (Stages, String) = {
    val cleaned = ops.CorpusClean.clean(docs, col("text"), col("doc_id"), cfg)
    try {
      val stats = cleaned.stageStats().orderBy(col("stage")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val ids = cleaned.docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      (stats, md5Hex(ids.mkString(",")))
    } finally cleaned.release()
  }

  /** accounting()'s stage rows (ordered by name) and its digests. */
  private def viaAccounting(docs: DataFrame,
      cfg: ops.CorpusClean.Config): (Stages, Seq[String]) = {
    val acc = ops.CorpusClean.accounting(docs, col("text"), col("doc_id"), cfg)
      .orderBy(col("stage")).collect()
    assert(acc.length == 4, acc.mkString("\n"))
    (acc.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
      acc.map(_.getString(3)).distinct.toSeq)
  }

  /** Reference, clean() and accounting() agree at `cfg`. */
  private def assertParity(cfg: ops.CorpusClean.Config): Unit = {
    val docs = corpus
    val (refRows, refDigest) = reference(docs, cfg)
    assert(refRows.exists(r => r._1 == "near_dedup" && r._3 < r._2),
      s"the reference drops no near-dup at $cfg — parity would prove nothing")
    val (cleanRows, cleanDigest) = viaClean(docs, cfg)
    val (accRows, accDigests) = viaAccounting(docs, cfg)
    assert(cleanRows == refRows,
      s"clean() stage counts diverge at $cfg:\n clean:     ${cleanRows.mkString(", ")}\n" +
        s" reference: ${refRows.mkString(", ")}")
    assert(accRows == refRows,
      s"accounting() stage counts diverge at $cfg:\n one-job:   ${accRows.mkString(", ")}\n" +
        s" reference: ${refRows.mkString(", ")}")
    assert(cleanDigest == refDigest, s"clean() survivors diverge at $cfg")
    assert(accDigests == Seq(refDigest),
      s"accounting() survivor digest diverges at $cfg: ${accDigests.mkString(",")} vs $refDigest")
  }

  test("accounting() equals clean()+stageStats()+digest on the test corpus") {
    assertParity(ops.CorpusClean.Config())
  }

  test("accounting() parity holds at non-default configs (thresholds, bands, shingles)") {
    // a config plumbed to one step but not another (bands count,
    // shingle length, gate thresholds) would pass the defaults-only
    // parity test and drift silently in production configs
    assertParity(ops.CorpusClean.Config(minTokens = 10, minTtr = 0.1,
      jaccardThreshold = 0.5))
    assertParity(ops.CorpusClean.Config(numHashes = 8, bands = 4, shingleLen = 2,
      langThreshold = 0.02))
  }

  test("accounting() parity holds through the SPILLED drop-list arm (threshold forced to 0)") {
    // dropListThreshold = 0 forces every drop id through the
    // swap-published parquet + distributed-join arm — the 100 TB path
    // for pathological near-dup corpora where |verified pairs| ~
    // |corpus| — in BOTH entry points. Parity must hold bit-for-bit,
    // and the published list must actually exist under the
    // caller-provided dir.
    val dir = graft.etl.Scratch.dir("graft_droplist_spec")
    assertParity(ops.CorpusClean.Config(dropListThreshold = 0, dropListDir = Some(dir)))
    // the ids really published (complete-or-absent: _SUCCESS present)
    val published = spark.read.parquet(s"$dir/ids")
    assert(published.columns.sameElements(Array("__drop_id")))
    assert(published.count() > 0, "spilled arm published an empty drop list " +
      "on a corpus whose reference pipeline drops near-dups")
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
    // pure-guard pin (r17 ADVICE): the spilled arm's scratch-root
    // default is driver-local — on a cluster, executors would publish
    // a silently PARTIAL drop list there. The guard must reject
    // exactly the (non-local, no explicit dir) corner and nothing else.
    ops.CorpusClean.validateDropListDir(masterIsLocal = true, None)
    ops.CorpusClean.validateDropListDir(masterIsLocal = true, Some("/x"))
    ops.CorpusClean.validateDropListDir(masterIsLocal = false, Some("/x"))
    val ex = intercept[IllegalArgumentException] {
      ops.CorpusClean.validateDropListDir(masterIsLocal = false, None)
    }
    assert(ex.getMessage.contains("cluster-visible"), ex.getMessage)
  }

  test("accounting() rejects the connected-components configuration") {
    val ex = intercept[IllegalArgumentException] {
      ops.CorpusClean.accounting(corpus, col("text"), col("doc_id"),
        ops.CorpusClean.Config(useConnectedComponents = true))
    }
    assert(ex.getMessage.contains("one-job"), ex.getMessage)
  }
}
