package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The untimed-region fence (r18 verdict #6): Bench's disclosed
  * `prebuilt` warm-up list and the session memo registry are the only
  * mechanisms by which work can leave a declared query's timed region.
  * Both are pinned here against a COMMITTED copy, so new
  * precomputation requires a reviewed diff in two files (the source
  * list and this spec) instead of slipping in as one silent line —
  * and the memo registry (`ExtendedQueries.memo`, behind
  * `memoCache`/`memoCount`/`memoBytes`/`memoPath`/`ivfModel`) rejects
  * an unlisted key, or a key used as another kind than its declared
  * one, at build time, so the fence holds even for code paths no spec
  * exercises.
  *
  * Widening rule: adding a memo is sometimes the RIGHT change (the
  * build-once lifecycle states are all here) — the fence's job is to
  * make that addition visible, reviewed, and disclosed in the bench
  * JSON, not to forbid it.
  */
class MemoFenceSpec extends AnyFunSuite {
  import graft.TestSpark._

  // The committed allowlist — a literal COPY, not a reference to the
  // source sets (referencing them would make the pin a tautology).
  private val expectedPrebuilt = Seq("shingle_cache", "embed_norms_cache",
    "token_count_cache", "skipping_layout", "ivfpq_index",
    "bucket_join_tables", "compacted_layout", "compact_partitioned_layout",
    "scd2_state", "sketch_rollup_state", "stream_cdc_state",
    "stream_scd2_state", "stream_agg_state", "stream_band_registry",
    "cleaned_corpus_cache", "media_layout", "ivfpq_advanced_index",
    "ivfpq_removed_index", "ivfpq_leafwise_index", "jsonl_layout",
    "stream_jsonl_state")

  private val expectedMemoKeys: Map[String, ExtendedQueries.MemoKind] = {
    import ExtendedQueries.MemoKind._
    Seq(
      "bands", "bgcounts", "bgmodel", "candpairs", "cleancorpus", "doclens",
      "docprof", "dupcc", "embednorm", "eventprof", "ivfassign", "jacpairs",
      "mhsig", "sheval", "shingles", "shsplit", "shtrain",
      "simsig", "tfidfscore", "toktf").map(_ -> Frame) ++
    Seq("ndocs", "ntoks").map(_ -> Count) ++
    Seq("bloomfilter").map(_ -> Bytes) ++
    Seq(
      "bucketjoin", "cleanids", "compactlayout", "compactpart", "ivfpqadv",
      "ivfpqindex", "ivfpqleaf", "ivfpqrm", "jsonl", "medialayout", "scd2adv",
      "sketchroll", "skiplayout", "streamagg", "streamband", "streamcdc",
      "streamjsonl", "streamscd2").map(_ -> Path) ++
    Seq("ivfmodel").map(_ -> Model)
  }.toMap

  test("Bench.prebuilt matches the committed allowlist exactly") {
    assert(graft.Bench.prebuilt == expectedPrebuilt,
      s"prebuilt drift — added: ${graft.Bench.prebuilt.diff(expectedPrebuilt)}, " +
        s"removed: ${expectedPrebuilt.diff(graft.Bench.prebuilt)}")
  }

  test("memo key allowlist matches the committed copy exactly") {
    val actual = ExtendedQueries.allowedMemoKeys
    assert(actual == expectedMemoKeys,
      s"memo allowlist drift — added: ${actual.toSet -- expectedMemoKeys}, " +
        s"removed: ${expectedMemoKeys.toSet -- actual}")
  }

  test("an unlisted memo key is rejected at build time") {
    import ExtendedQueries.MemoKind._
    def rejected(key: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(key), e.getMessage)
    }
    // every entry point, and the registry itself for every kind — the
    // fence rejects before building, so no builder below ever runs
    rejected("sneaky_precompute") {
      ExtendedQueries.memoCache("sneaky_precompute", spark, sfTiny) { fail("built") } }
    rejected("sneaky_precompute") {
      ExtendedQueries.memoCount("sneaky_precompute", spark, sfTiny) { 42L } }
    rejected("sneaky_precompute") {
      ExtendedQueries.memoBytes("sneaky_precompute", spark, sfTiny) { fail("built") } }
    rejected("sneaky_precompute") {
      ExtendedQueries.memoPath("sneaky_precompute", spark, sfTiny) { _ => fail("built") } }
    Seq(Frame, Count, Bytes, Path, Model).foreach { kind =>
      rejected("sneaky_precompute") {
        ExtendedQueries.memo[ExtendedQueries.Memo]("sneaky_precompute", kind, spark, sfTiny) {
          fail("built") } }
    }
    // a listed key used as another kind than its declared one
    rejected("ndocs") { ExtendedQueries.memoBytes("ndocs", spark, sfTiny) { fail("built") } }
    rejected("shingles") { ExtendedQueries.memoCount("shingles", spark, sfTiny) { 42L } }
    rejected("ivfmodel") {
      ExtendedQueries.memoPath("ivfmodel", spark, sfTiny) { _ => fail("built") } }
    // and the listed keys still work (the fence rejects, not breaks) —
    // released right after so no scalar memo from this spec outlives it
    assert(ExtendedQueries.memoCount("ndocs", spark, sfTiny) { 7L } == 7L)
    ExtendedQueries.releaseCaches(spark, sfTiny)
  }

  test("path memos share the one per-JVM scratch root") {
    // a registry key only: the no-op builders below never read it
    val d = "memo-fence-scratch"
    val dirs = Seq("jsonl", "cleanids").map(k =>
      ExtendedQueries.memoPath(k, spark, d) { _ => () })
    try dirs.foreach(dir => assert(
      java.nio.file.Paths.get(dir).getParent == graft.etl.Scratch.root, dir))
    finally ExtendedQueries.releaseCaches(spark, d)
    assert(!dirs.exists(dir => java.nio.file.Files.exists(java.nio.file.Paths.get(dir))))
  }
}
