package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library-usage cache discipline: the dedup queries pin shared
  * artifacts (shingles, LSH bands, candidate and verified pairs) for
  * cross-query reuse; `ExtendedQueries.releaseCaches` must free every
  * one of them so a long-lived session embedding the library does not
  * leak executor memory. Asserted on the executor block store
  * (`getRDDStorageInfo`), not on plan shape — the queries re-register
  * their lazy cache entries on every build, but released entries hold
  * no blocks. */
class CacheDisciplineSpec extends AnyFunSuite {
  import TestSpark._

  test("releaseCaches frees every block the dedup queries pinned") {
    def pinned: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // other suites share this session and may already hold the same
    // plan-keyed cache entries (e.g. PlanSpec's jaccard gate) — release
    // first so `before` is a clean baseline and the pin is attributable
    graft.queries.ExtendedQueries.releaseCaches(spark, sfTiny)
    val before = pinned
    // run one query from EVERY cache family end to end (shingles +
    // bands + candidates + verified pairs, split-labeled shingle
    // index, signature tables, bigram counts + LM model, TF-IDF
    // scores, embedding norms) — a cache key added to a query but
    // missing from releaseCaches fails the leak assertion below
    Seq("q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_minhash_est",
      "q_dedup_simhash_ham", "q_decontaminate", "q_bigram_lm",
      "q_top_bigram", "q_tfidf_top", "q_similarity_cosine", "q_map_ops",
      "q_dup_groups", "q_ivf_recall")
      .foreach(n => SparkEntry.queries(n)(spark, sfTiny).count())
    val during = pinned
    assert((during -- before).nonEmpty,
      "queries are expected to pin shared artifacts while in use")
    // one memo of every other kind: a count, a bytes model, a layout
    // dir (q_ivf_recall above trained the IVF model)
    val memos = graft.queries.ExtendedQueries
    assert(memos.memoCount("ntoks", spark, sfTiny)(1L) == 1L)
    assert(memos.memoBytes("bloomfilter", spark, sfTiny)(Array[Byte](1)).toSeq == Seq[Byte](1))
    val layout = memos.memoPath("jsonl", spark, sfTiny) { dir =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part"), Array[Byte](1))
    }
    assert(Set("ntoks", "bloomfilter", "jsonl", "ivfmodel", "shingles")
      .subsetOf(memos.liveMemoKeys(spark, sfTiny)))
    memos.releaseCaches(spark, sfTiny)
    val after = pinned
    assert((after -- before).isEmpty,
      s"blocks still pinned after releaseCaches: ${after -- before}")
    assert(memos.liveMemoKeys(spark, sfTiny).isEmpty,
      s"memos still live after releaseCaches: ${memos.liveMemoKeys(spark, sfTiny)}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(layout)),
      s"released layout dir $layout is still on disk")
    // released scalar and bytes memos rebuild from their new builders
    assert(memos.memoCount("ntoks", spark, sfTiny)(2L) == 2L)
    assert(memos.memoBytes("bloomfilter", spark, sfTiny)(Array[Byte](2)).toSeq == Seq[Byte](2))
    // the queries still work (and re-pin) after release
    assert(SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sfTiny).count() > 0)
    graft.queries.ExtendedQueries.releaseCaches(spark, sfTiny)
  }

  test("minHashLshCandidates leaves no CacheManager entry") {
    import org.apache.spark.sql.functions.col
    // a library call on changing inputs must not pin a band table for
    // the session: the self-join reads one uncached band-key frame
    val docs = spark.read.parquet(sfTiny + "/documents.parquet")
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(ops.Dedup.minHashLshCandidates(docs, col("text"), col("doc_id")).count() > 0)
    // storageLevel reads the CacheManager entry of the frame's plan
    assert(ops.Dedup.lshBandKeys(docs, col("text"), col("doc_id")).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "the band-key frame behind the candidate join is cached")
    val pinned = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet -- before
    assert(pinned.isEmpty, s"minHashLshCandidates pinned blocks: $pinned")
  }
}
