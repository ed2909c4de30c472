package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Repeated-SUBSTRING deduplication — the span-level member of the
  * dedup family (exact / MinHash-LSH / SimHash / embedding cover
  * whole-document duplication; this catches the boilerplate CASE:
  * headers, footers, license blocks, navigation chrome repeated
  * verbatim across otherwise-distinct documents, which whole-doc
  * similarity scores dilute rather than detect).
  *
  * Method (the Spark-shaped version of exact-substring training-data
  * dedup): hash every `w`-token window of every document
  * (token-symbol Rabin-Karp: each token collapses to its char-level
  * rolling hash via the codegen `graft_rolling_hash` kernel, then the
  * window folds those symbols — so window hashes never materialize
  * the window text), keep window hashes seen in ≥ `minDocs` DISTINCT
  * documents, and merge each document's surviving positions into
  * maximal spans with a gap-islands pass.
  *
  * Scale shape: the window-hash explode is linear in corpus tokens
  * (the same budget as shingling for MinHash); the repeated-hash
  * filter is one hash-partial+final aggregate keyed by the 64-bit
  * window hash — never by text; the islands pass is one window over
  * (doc, pos). Nothing quadratic, no text shuffled after the explode.
  * Hash equality is a CANDIDATE signal — but with the dual-modulus
  * window key (~2⁻⁶⁰ per-pair collision odds, see [[windowHashes]])
  * false positives are negligible below ~10⁸ distinct windows; verify
  * survivors by exact span comparison where byte-certainty matters
  * beyond that.
  *
  * Incremental form: `advanceSpread` maintains the per-hash document
  * spread as a persisted registry over append-only batches, and
  * `stripAgainstRegistry` scrubs a fresh batch against ALL history
  * without rescanning it — the shape that holds when "the corpus" is
  * 100 TB and today's crawl is 0.1% of it.
  */
object SubstrDedup {

  /** ARRAY<LONG> of one dual-modulus window KEY per `w`-token window
    * of `text` (`h1·P2 + h2` — see `TokenWindowDualHash`); empty when
    * the document has fewer than `w` tokens. Delegates to the
    * one-pass codegen kernel — the equivalent HOF chain
    * (`transform(sequence, i -> aggregate(slice(...)))`) is
    * CodegenFallback and O(n·w); the kernel is O(n) with the classic
    * rolling leading-term removal (TokenWindowHashSpec). Emits the
    * SAME key space every downstream SubstrDedup stage (spread
    * registry, span detection) joins on — callers composing their own
    * stages must use this, not the single-modulus
    * `tokenWindowHash` (whose 2^30 range is key-incompatible). */
  def windowHashArray(text: Column, w: Int): Column =
    graft.functions.TokenWindowHash.tokenWindowDualHash(text, w)

  /** (id, pos, whash) for every `w`-token window in every document —
    * the linear explode all downstream stages run on. `whash` is the
    * DUAL-modulus combined key (`TokenWindowDualHash`: two independent
    * 30-bit Rabin-Karp folds packed as `h1·P2 + h2`, same one-pass
    * kernel): a cross-text false positive needs both folds to collide
    * (~2⁻⁶⁰ per pair), so span detection hash-gates cleanly at the
    * declared scales — the single-modulus form measurably
    * false-positives past ~10⁵ distinct windows (birthday bound),
    * observed as 3 spurious spans at sf0.1. */
  def windowHashes(docs: DataFrame, textCol: Column, idCol: Column,
      w: Int): DataFrame =
    docs.select(idCol.as("id"),
        posexplode(windowHashArray(textCol, w)).as(Seq("pos", "whash")))

  /** Gap-islands over repeated window positions (id, pos): merge runs
    * while consecutive windows overlap or touch (gap ≤ w). Output:
    * (id, start_tok inclusive, end_tok exclusive, n_windows). */
  private def islandSpans(rep: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    rep.withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > w, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + w).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .drop("island")
  }

  /** Rewrite each document of `docs` with the tokens inside
    * `spans` (id, start_tok, end_tok) removed. Documents with no span
    * pass through unchanged; a document that is ENTIRELY repeated
    * becomes the empty string. Output: original columns +
    * `text_clean`. */
  private def scrubSpans(docs: DataFrame, textCol: Column, idCol: Column,
      spans: DataFrame): DataFrame = {
    // span-side key/payload under reserved names so a caller frame
    // that itself has columns named "id" or "spans" neither makes the
    // join condition ambiguous nor loses its column to the drop below
    val perDoc = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("__sd_spans"))
      .withColumnRenamed("id", "__sd_id")
    docs.join(perDoc, idCol === perDoc("__sd_id"), "left")
      .withColumn("text_clean",
        when(col("__sd_spans").isNull, textCol).otherwise(
          concat_ws(" ", filter(
            transform(split(textCol, " "),
              (t, i) => when(exists(col("__sd_spans"),
                s => i >= s("start_tok") && i < s("end_tok")), lit(null))
                .otherwise(t)),
            t => t.isNotNull))))
      .drop("__sd_id", "__sd_spans")
  }

  /** Maximal repeated spans per document: every run of window
    * positions whose hash occurs in at least `minDocs` distinct
    * documents, merged while consecutive windows overlap or touch
    * (gap ≤ w). Output: (id, start_tok inclusive, end_tok exclusive,
    * n_windows), token positions 0-based. */
  def repeatedSpans(docs: DataFrame, textCol: Column, idCol: Column,
      w: Int, minDocs: Int = 2): DataFrame =
    repeatedSpansFromHashes(windowHashes(docs, textCol, idCol, w), w, minDocs)

  /** [[repeatedSpans]] over a pre-built (id, pos, whash) frame.
    *
    * The window table is consumed ONCE: the cross-document spread is
    * a distinct-doc count computed IN the same whash-keyed pass as
    * the survivor selection (dense_rank over id, then max over the
    * partition — exactly count(DISTINCT id), which window functions
    * cannot spell directly), so the corpus-wide explode + rolling-
    * hash kernel runs once and there is NO self-join. The r10 shape
    * replaced spread-aggregate + whash equi-join, which consumed `wh`
    * twice — an unpersisted frame paid the explode+kernel per
    * consumer (the same lineage class the ×16 capstone caught on
    * clean()'s drop list). One hash exchange on whash either way; the
    * window adds a sort where the old join added a second full-table
    * shuffle. A within-doc repeat still counts its doc once
    * (dense_rank is per DISTINCT id). */
  def repeatedSpansFromHashes(wh: DataFrame, w: Int,
      minDocs: Int = 2): DataFrame = {
    val byHash = Window.partitionBy(col("whash")).orderBy(col("id"))
    val wholeHash = Window.partitionBy(col("whash"))
    val surviving = wh
      .withColumn("__dr", dense_rank().over(byHash))
      .withColumn("__nd", max(col("__dr")).over(wholeHash))
      .filter(col("__nd") >= minDocs)
      .select(col("id"), col("pos"))
    islandSpans(surviving, w)
  }

  /** Rewrite each document with its repeated spans' tokens removed
    * (the boilerplate scrub). Same output contract as [[scrubSpans]]:
    * original columns + `text_clean`. */
  def stripRepeatedSpans(docs: DataFrame, textCol: Column, idCol: Column,
      w: Int, minDocs: Int = 2): DataFrame =
    scrubSpans(docs, textCol, idCol,
      repeatedSpans(docs, textCol, idCol, w, minDocs))

  /** Per-batch spread state: one row per distinct window hash with
    * the count of DISTINCT documents (within this batch) containing
    * it — the foldable unit of the incremental boilerplate registry. */
  def spreadState(delta: DataFrame, textCol: Column, idCol: Column,
      w: Int): DataFrame =
    windowHashes(delta, textCol, idCol, w)
      .select(col("whash"), col("id")).distinct()
      .groupBy(col("whash")).agg(count(lit(1)).as("n_docs"))

  /** Fold a new batch's spread into the persisted registry at
    * `statePath` (swap-published, crash-safe via `etl.Swap`) and
    * return the registry row count. Lifecycle contract across all
    * persisted stores: REGISTRIES.md. APPEND-ONLY CONTRACT: batches
    * must not share document ids — cross-batch distinctness of docs
    * is what lets per-hash doc counts ADD across folds (the same
    * assumption IncrementalAgg's count makes). Registry size is
    * O(distinct window hashes); at corpus scale prune it periodically
    * to hashes with n_docs ≥ minDocs − 1 if only scrubbing matters.
    *
    * KEY-SPACE VERSIONING (ENFORCED): registry rows key on the
    * dual-modulus window key ([[windowHashes]]). A registry persisted
    * by the earlier single-modulus build (whash < 2^30) would never
    * match new keys — folds would silently restart counts and scrubs
    * would miss all history — so every publish stamps a
    * `_GRAFT_KEYSPACE_DUAL_V2` marker file beside the parquet, and
    * loading an existing registry FAILS FAST
    * (`IllegalStateException`) when the stamp is absent and the data
    * probe (`max(whash) < 2^30` ⇒ single-modulus by construction)
    * confirms a legacy key space. Rebuild such registries from the
    * source batches. An unstamped registry whose keys probe as dual
    * (e.g. written by this build before a crash mid-migration) is
    * accepted and stamped on its next publish. */
  def advanceSpread(spark: org.apache.spark.sql.SparkSession,
      statePath: String, delta: DataFrame, textCol: Column,
      idCol: Column, w: Int): Long =
    advanceSpreadImpl(spark, statePath, delta, textCol, idCol, w, None)

  /** Idempotent form for at-least-once feeds (the same applied-batch
    * marker contract as `SketchRollup.advanceBatch`: the marker is
    * published atomically inside the state swap, so a replayed
    * (runTag, batchId) is a no-op — necessary because spread counts
    * ADD and would double on replay). */
  def advanceSpreadBatch(spark: org.apache.spark.sql.SparkSession,
      statePath: String, delta: DataFrame, textCol: Column,
      idCol: Column, w: Int, batchId: Long,
      runTag: String = "run"): Long =
    advanceSpreadImpl(spark, statePath, delta, textCol, idCol, w,
      Some((runTag, batchId)))

  /** Registry key-space stamp (see the KEY-SPACE VERSIONING note on
    * [[advanceSpread]]). Underscore-prefixed: parquet readers treat
    * it as metadata and skip it. */
  private[graft] val KeyspaceMarker = "_GRAFT_KEYSPACE_DUAL_V2"

  /** Fail fast when an existing registry carries the legacy
    * single-modulus key space: no version stamp AND every key < 2^30
    * (the single-modulus range; a dual key `h1·P2 + h2` sits below
    * 2^30 only when h1 = 0 — for a whole registry that is ~2^(-30·n)).
    * An empty registry passes (nothing to mismatch). */
  private def assertDualKeySpace(registry: graft.etl.Swap.Dir,
      statePath: String): Unit = {
    if (registry.has(KeyspaceMarker)) return
    val mx = registry.read().agg(max(col("whash"))).head
    if (!mx.isNullAt(0) && mx.getLong(0) < (1L << 30))
      throw new IllegalStateException(
        s"spread registry at $statePath uses the legacy single-modulus " +
          s"key space (max(whash) = ${mx.getLong(0)} < 2^30, no " +
          s"$KeyspaceMarker stamp): folding dual-modulus deltas into it " +
          "would silently restart counts and miss all scrub history. " +
          "Rebuild the registry from its source batches.")
  }

  private def advanceSpreadImpl(spark: org.apache.spark.sql.SparkSession,
      statePath: String, delta: DataFrame, textCol: Column,
      idCol: Column, w: Int, batch: Option[(String, Long)]): Long = {
    val registry = graft.etl.Swap.open(spark, statePath)
    if (batch.exists { case (tag, id) => registry.applied(tag, id) })
      return registry.read().count()
    val deltaState = spreadState(delta, textCol, idCol, w)
    val next =
      if (registry.exists) {
        assertDualKeySpace(registry, statePath)
        registry.read().unionByName(deltaState)
          .groupBy(col("whash")).agg(sum(col("n_docs")).as("n_docs"))
      } else deltaState
    registry.publish(next, marker = batch, stamps = Seq(KeyspaceMarker))(
      _.count())
  }

  /** Prune the persisted registry to hashes that can still influence
    * a scrub at `minDocs`: a hash at `minDocs − 1` can cross the
    * threshold on a future fold, anything below cannot be closer than
    * that, so `n_docs ≥ minDocs − 1` keeps every hash with forward
    * relevance. Run periodically once the registry's long tail (the
    * hashes seen exactly once) dominates its size — the tail is
    * O(distinct windows), the kept head is O(boilerplate). Returns
    * the surviving row count. NOTE: pruning forfeits tail counts — a
    * hash pruned at 1 doc restarts from 0 if seen again, so prune
    * only when `minDocs − 1` occurrences since the last prune is an
    * acceptable miss (the standard sketch-tail trade, stated not
    * hidden). */
  def pruneRegistry(spark: org.apache.spark.sql.SparkSession,
      statePath: String, minDocs: Int = 2): Long = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val registry = graft.etl.Swap.open(spark, statePath)
    assertDualKeySpace(registry, statePath)
    val kept = registry.read().filter(col("n_docs") >= minDocs - 1)
    registry.publish(kept, stamps = Seq(KeyspaceMarker))(_.count())
  }

  /** Open the persisted spread registry for READING, with the same
    * protections every writing entry point has (REGISTRIES.md):
    * `Swap.open`'s recovery first (a crash in a publish's delete→rename gap
    * leaves the complete fold under the tmp name), then the key-space
    * guard — a legacy single-modulus registry is REJECTED here
    * instead of silently scrubbing nothing (its keys would never
    * match [[windowHashes]] output, so every batch would pass through
    * unscrubbed with no error). Pass the result to
    * [[stripAgainstRegistry]]. */
  def loadRegistry(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    val registry = graft.etl.Swap.open(spark, statePath)
    assertDualKeySpace(registry, statePath)
    registry.read()
  }

  /** Scrub `docs` against an EXTERNAL spread registry (e.g. the
    * persisted table `advanceSpread` maintains): windows whose hash
    * reaches `minDocs` documents registry-wide are treated as
    * boilerplate, so a fresh batch is cleaned against ALL history
    * without rescanning it. Same output contract as
    * [[stripRepeatedSpans]]. Open a PERSISTED registry via
    * [[loadRegistry]], not a bare `spark.read.parquet` — the load
    * enforces crash recovery and the key-space guard a raw read
    * skips. */
  def stripAgainstRegistry(docs: DataFrame, textCol: Column,
      idCol: Column, w: Int, registry: DataFrame,
      minDocs: Int = 2): DataFrame = {
    val hot = registry.filter(col("n_docs") >= minDocs).select(col("whash"))
    val wh = windowHashes(docs, textCol, idCol, w)
    scrubSpans(docs, textCol, idCol,
      islandSpans(wh.join(hot, "whash").select(col("id"), col("pos")), w))
  }
}
