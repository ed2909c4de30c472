package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora.
  *
  * Four families, in increasing tolerance to variation:
  *  1. exact        — hash-groupBy on content (or a normalized key)
  *  2. MinHash+LSH  — near-dup candidates at a tunable Jaccard threshold
  *  3. SimHash      — near-dup candidates by Hamming distance on a
  *                    weighted-bit signature
  *  4. n-gram Jaccard — exact pairwise verification for candidates
  *
  * 100 TB design notes:
  *  - every operator here is a pure DataFrame plan: hash-partitioned
  *    groupBys with map-side partial aggregation, no driver collects;
  *  - signatures are row-local kernels over each document (linear, no
  *    exchange), candidate generation joins only on (band,
  *    bucket-hash) keys — the full text never enters a shuffle;
  *  - the final pairwise verify ([[jaccardPairs]]) runs on LSH
  *    candidate pairs ([[minHashLshCandidates]]), never all pairs:
  *    each pair is scored in its own row from the two docs' shingle
  *    sets, so its cost follows |candidates|, not |corpus|².
  */
object Dedup {

  /** Exact duplicate groups keyed by md5 of `key`. Returns one row per
    * group with size > 1: (fp, n_dups, keep_id = min of `idCol`).
    * Null keys form no group: a null has no comparable content, so
    * null-keyed docs are never each other's duplicates (md5(null)
    * would otherwise collapse them all into one fp=null group). */
  def exactDupGroups(docs: DataFrame, key: Column, idCol: Column): DataFrame =
    docs.select(md5(key.cast("binary")).as("fp"), idCol.as("id"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Keep-first exact dedup: drops all but the min-id row per key.
    * Null-keyed rows ALL pass through: with md5(null) grouping them,
    * 99 of 100 unparsed/null docs would be silently deleted as
    * "duplicates" of content that does not exist. */
  def dedupExact(docs: DataFrame, key: Column, idCol: Column): DataFrame = {
    val ranked = docs.withColumn("__fp", md5(key.cast("binary")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp")).orderBy(idCol)))
    ranked.filter(col("__fp").isNull || col("__rn") === 1).drop("__fp", "__rn")
  }

  /** Word n-gram shingles: (id, shingle) with one row per shingle
    * occurrence. Documents with fewer than `n` tokens produce none.
    * The window construction is the codegen ShingleWindows kernel —
    * the HOF transform referenced the `split` subtree n times inside
    * its lambda (no CSE for lambda subtrees), re-running the regex
    * split of the document 3× per shingle; measured 26.7 s of pure
    * shingle construction at ×16 docs before the kernel. This is the
    * input stage of every MinHash/Jaccard/decontamination consumer. */
  def shingles(docs: DataFrame, textCol: Column, idCol: Column, n: Int = 3): DataFrame =
    // no explicit short-doc filter: explode of a NULL array emits zero
    // rows, which IS the contract — and an isNotNull filter on the
    // kernel column would inline the whole split+kernel chain into a
    // pushed Filter and evaluate it twice per row (the r10 plan-audit
    // finding; the same double-eval class as the nullable-join-key
    // hazard)
    docs.select(idCol.as("id"),
      explode(graft.functions.GraftFunctions.shingleWindows(
        split(textCol, " "), n)).as("s"))

  /** Per-document MinHash signature (id, m0 … m{k−1}): m_j is the
    * lexicographic minimum of `md5("{j}|" + shingle)` over the
    * document's word `shingleLen`-grams. Row-local: ONE
    * [[graft.functions.MinHashMinima]] kernel pass over the
    * [[shingleArray]] column — no explode, no exchange, no aggregate
    * state, so it is linear, partitioning-invariant by construction and
    * runs unchanged on a stream. Documents with fewer than `shingleLen`
    * tokens (and null texts) have no shingles and emit no row.
    *
    * The short-doc drop is a predicate on the TEXT, never an isNotNull
    * on the kernel column: that filter would be pushed below the
    * projection with the whole split+shingle+minima chain inlined, and
    * the kernel would run twice per row (r10 plan-audit finding). The
    * minima are materialized once as `__mh` and read by attribute. */
  def minHashSignatures(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, shingleLen: Int = 3): DataFrame =
    docs.filter(size(split(textCol, " ")) >= shingleLen)
      .select(idCol.as("id"),
        graft.functions.GraftFunctions.minHashMinima(
          shingleArray(textCol, shingleLen), numHashes).as("__mh"))
      .select(col("id") +:
        (0 until numHashes).map(j => col("__mh").getItem(j).as(s"m$j")): _*)

  /** The document's shingle array as one Column; null when the doc
    * has fewer than `n` tokens. Runs in the codegen ShingleWindows
    * kernel: the old HOF form referenced the `split` subtree n times
    * INSIDE its lambda — no CSE for lambda subtrees (SPARK-35886), so
    * the regex split re-ran 3× per shingle (measured 26.7 s of pure
    * shingle construction at ×16 docs). The kernel evaluates the
    * token array once and emits all windows in one pass. */
  def shingleArray(textCol: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.shingleWindows(split(textCol, " "), n)

  /** Per-document distinct shingle sets (id, shset): one row-local
    * `array_distinct` over [[shingleArray]], no explode and no
    * aggregate. Docs with fewer than `n` tokens (and null texts) carry
    * a null set. The input of [[jaccardPairs]]. */
  def shingleSets(docs: DataFrame, textCol: Column, idCol: Column, n: Int = 3): DataFrame =
    docs.select(idCol.as("id"), array_distinct(shingleArray(textCol, n)).as("shset"))

  /** Row-local LSH band keys (id, band, h) straight from the text —
    * the [[minHashSignatures]] minima + banding in one stateless
    * projection, so it runs unchanged on a STREAM (each arriving doc
    * emits its `bands` bucket keys; join them against an indexed band
    * table for incremental near-dup candidates). Docs with fewer than
    * `shingleLen` tokens emit nothing, matching [[shingles]]. */
  def lshBandKeys(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): DataFrame = {
    // ALL numHashes minima in one kernel pass over the shingle array
    // (graft.functions.MinHashMinima), materialized as a real column
    // so the per-band getItems below read it by attribute (single
    // evaluation); a null shingle array (doc shorter than shingleLen)
    // nulls the minima and is filtered.
    // NOTE: no isNotNull filter on __mh here — it would inline the
    // whole split+shingle+minima chain into a pushed Filter and
    // evaluate it twice per row (r10 plan-audit finding). Short docs
    // (null minima) are dropped AFTER the explode on the cheap `h`
    // attribute instead.
    val shingled = docs
      .select(idCol.as("id"),
        graft.functions.GraftFunctions.minHashMinima(
          shingleArray(textCol, shingleLen), numHashes).as("__mh"))
    bandKeysFromMinima(shingled, col("id"), col("__mh"), numHashes, bands)
  }

  /** (id, band, h) band keys from a frame carrying an id and a
    * MinHash minima ARRAY column — the one minima→band-hash
    * construction in the library ([[minHashBandHash]] over each
    * band's `r = numHashes/bands` consecutive minima, exploded from
    * band structs), shared by [[lshBandKeys]], [[lshBands]] and
    * CorpusClean's near-dup step, so the corpus pipeline's banding
    * can never silently drift from the library's other MinHash band
    * keys (r16 ADVICE). Short docs surface as null
    * band hashes (null minima null the concat inside
    * minHashBandHash) and are filtered on the CHEAP generated
    * attribute AFTER the explode, where the predicate cannot be
    * pushed below the Generate and re-evaluate the minima chain
    * (r10 plan-audit finding). */
  private[graft] def bandKeysFromMinima(withMinima: DataFrame, idCol: Column,
      mhCol: Column, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val ms = (0 until numHashes).map(j => mhCol.getItem(j))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b.toLong).as("band"),
        minHashBandHash((b * r until (b + 1) * r).map(ms)).as("h"))
    }
    withMinima
      .select(idCol.as("id"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
      .filter(col("h").isNotNull)
  }

  // ---------------------------------------------------------------
  // Incremental WHOLE-DOCUMENT near-dedup: a persisted LSH band
  // registry — the document-level sibling of the SubstrDedup spread
  // registry (REGISTRIES.md), answering "is today's crawl a near-dup
  // of anything in 100 TB of history?" without rescanning history.
  // State is the (id, band, h) band-key table: O(bands) rows per
  // historical doc, keys only — text never persists here and never
  // enters the candidate join. A fresh batch emits its band keys
  // row-locally ([[lshBandKeys]] — the same stateless projection the
  // streaming twin uses) and equi-joins the registry: candidate cost
  // is Σ|bucket| over MATCHED buckets, never |batch|·|history|. The
  // registry yields CANDIDATE ids; exact Jaccard verification then
  // point-fetches just those historical docs (LSH-bounded — tiny) —
  // the honest two-phase shape at scale.
  // ---------------------------------------------------------------

  /** Params stamp for a band registry (same enforcement pattern as
    * the spread registry's key-space marker): band keys are only
    * comparable under identical (numHashes, bands, shingleLen), so
    * every publish stamps them and every load asserts them. */
  private[graft] def bandRegistryMarker(numHashes: Int, bands: Int,
      shingleLen: Int): String =
    s"_GRAFT_LSH_PARAMS_${numHashes}_${bands}_$shingleLen"

  private def assertBandParams(registry: graft.etl.Swap.Dir,
      statePath: String, numHashes: Int, bands: Int,
      shingleLen: Int): Unit = {
    if (!registry.exists)
      throw new java.io.FileNotFoundException(
        s"band registry at $statePath does not exist — fold a first " +
          "batch with advanceBandRegistry before loading")
    val want = bandRegistryMarker(numHashes, bands, shingleLen)
    if (!registry.has(want))
      throw new IllegalStateException(
        s"band registry at $statePath has no $want stamp: it was " +
          "written under different (numHashes, bands, shingleLen) " +
          "parameters (or by a foreign tool) and its keys would never " +
          "match this configuration — near-dups against history would " +
          "silently vanish. Rebuild the registry from its source " +
          "batches under the current parameters.")
  }

  /** Fold a new batch's band keys into the persisted registry at
    * `statePath` and return the registry row count. Set-fold
    * semantics (the distinct union of (id, band, h) rows) — replaying
    * a batch is a NO-OP by construction, so at-least-once feeds need
    * no batch markers (same idempotency class as
    * `TrainPrep.advanceEvalRegistry`; REGISTRIES.md). Batches must
    * carry globally-unique doc ids (the registry cannot distinguish a
    * re-used id from a replay). Swap-published, params-stamped. */
  def advanceBandRegistry(spark: org.apache.spark.sql.SparkSession,
      statePath: String, delta: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): Long = {
    val registry = graft.etl.Swap.open(spark, statePath)
    val deltaBands =
      lshBandKeys(delta, textCol, idCol, numHashes, bands, shingleLen)
    val next =
      if (registry.exists) {
        assertBandParams(registry, statePath, numHashes, bands, shingleLen)
        registry.read().unionByName(deltaBands).distinct()
      } else deltaBands.distinct()
    registry.publish(next,
      stamps = Seq(bandRegistryMarker(numHashes, bands, shingleLen)))(
      _.count())
  }

  /** Open a band registry written by [[advanceBandRegistry]],
    * asserting its params stamp matches — the only safe read path
    * (a silent params mismatch = zero candidates, not an error).
    * Opens through `Swap.open`, like every other entry point
    * (REGISTRIES.md): a crash in a publish's delete→rename gap leaves
    * the complete stamped fold under the tmp name, and without the
    * recovery this load would mistake it for a params mismatch. */
  def loadBandRegistry(spark: org.apache.spark.sql.SparkSession,
      statePath: String, numHashes: Int = 8, bands: Int = 2,
      shingleLen: Int = 3): DataFrame = {
    val registry = graft.etl.Swap.open(spark, statePath)
    assertBandParams(registry, statePath, numHashes, bands, shingleLen)
    registry.read()
  }

  /** Near-dup CANDIDATE pairs (new_id, hist_id) of a fresh batch
    * against a band registry: the batch's row-local band keys
    * equi-join the registry on (band, h). Query BEFORE folding the
    * batch in (or rely on the id inequality — self-matches are
    * excluded either way). Candidates are LSH candidates, same
    * contract as [[minHashLshCandidates]]: verify survivors with
    * exact Jaccard over the (point-fetched) historical texts. */
  def candidatesAgainstRegistry(newDocs: DataFrame, textCol: Column,
      idCol: Column, registry: DataFrame,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): DataFrame =
    lshBandKeys(newDocs, textCol, idCol, numHashes, bands, shingleLen).as("n")
      .join(registry.as("o"),
        col("n.band") === col("o.band") && col("n.h") === col("o.h") &&
          col("n.id") =!= col("o.id"))
      .select(col("n.id").as("new_id"), col("o.id").as("hist_id"))
      .distinct()

  /** The MinHash band-key hash — ONE definition shared by the
    * signature-frame banding and the row-local stream keys, so the
    * key spaces joined across batch/stream/registry cannot drift.
    * `concat`, NOT `concat_ws`: identical bytes for non-null minima
    * (so every persisted key is unchanged), but a NULL minimum (a doc
    * too short to shingle on the row-local path) nulls the whole key
    * instead of being silently skipped — concat_ws would hash the
    * partial concatenation and every short doc would share one bogus
    * md5("")-style bucket. */
  private def minHashBandHash(cols: Seq[Column]): Column =
    md5(concat(cols: _*).cast("binary"))

  /** LSH banding over a MinHash signature frame (id, m0 … m{n−1}):
    * (id, band, h) through [[bandKeysFromMinima]]. */
  def lshBands(mh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandKeysFromMinima(mh, col("id"),
      array((0 until numHashes).map(j => col(s"m$j")): _*), numHashes, bands)

  /** Candidate near-dup pairs (id1 < id2) sharing ≥1 LSH bucket.
    * Candidate threshold ≈ (1/bands)^(bands/numHashes). The
    * [[bandPairs]] self-join of the row-local [[lshBandKeys]]: no
    * shingle explode, no aggregate before the join; only (band, h)
    * keys shuffle. Distinct: a pair matching in several bands is
    * emitted once. Nothing is cached. */
  def minHashLshCandidates(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): DataFrame =
    bandPairs(lshBandKeys(docs, textCol, idCol, numHashes, bands, shingleLen))
      .distinct()

  /** The (band, h) self-join of a band table: (id1, id2) with
    * id1 < id2 for every bucket two docs share — the one batch
    * candidate join, behind [[minHashLshCandidates]], the declared
    * candidate memo and CorpusClean. `id` names the table's id column.
    * NO distinct: a pair matching in k bands is emitted k times
    * (k ≤ bands). [[jaccardPairs]] scores each input row on its own,
    * so duplicates cost a re-verify, never a wrong score; callers that
    * need a set add the distinct (an exchange and an aggregate over
    * pair space). */
  private[graft] def bandPairs(bands: DataFrame, id: String = "id"): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"))

  /** Connected components over an undirected pair list (id1, id2):
    * returns (id, comp) where comp is the MINIMUM id reachable from
    * `id` — the canonical representative of its duplicate group.
    *
    * Min-label propagation: each round every vertex takes the min of
    * its own label and its neighbors' labels; converged when a round
    * changes nothing. Rounds needed ≤ graph diameter — near-dup
    * clusters are shallow (pairs come from shared LSH buckets), so a
    * handful of rounds suffices; `maxIter` bounds pathological chains.
    *
    * Scale shape: each round is one join + one aggregation on (id,
    * label) pairs — no vertex ever carries more than a long label, and
    * `localCheckpoint` truncates the growing lineage each round (the
    * driver-side loop is iteration control, not data; the data stays
    * distributed). The convergence check aggregates a single count. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var prevMat = labels
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2_"))
        .agg(min(col("comp")).as("nmin"))
      val next = labels.join(neighborMin, labels("id") === col("id2_"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          (col("nmin").isNotNull && col("nmin") < col("comp")).as("changed"))
      val mat = next.localCheckpoint() // eager: materializes before we drop prev
      converged = mat.filter(col("changed")).limit(1).isEmpty
      labels = mat.select(col("id"), col("comp"))
      // the previous round's checkpoint blocks are dead once the new
      // one is materialized — free them instead of pinning one RDD per
      // round for the session's lifetime
      freeCheckpointBlocks(prevMat)
      prevMat = mat
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped at maxIter=$maxIter without converging: " +
          "components wider than maxIter hops keep >1 canonical label. " +
          "Raise maxIter (rounds needed <= graph diameter).")
    freeCheckpointBlocks(edges)
    labels
  }

  /** Unpersist the cached RDD blocks behind a localCheckpoint'd frame
    * (Dataset.unpersist only covers CacheManager entries; checkpoint
    * blocks are pinned on the RDD itself). Non-blocking — readers of
    * already-launched stages are unaffected. private[graft]: the
    * query-cache release path must also free the checkpoint blocks
    * under the memoized connected-components frame. */
  private[graft] def freeCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Band-space sizing rule (SCALE.md "Fixed-width blocking
    * saturates"): each of the `nBands` band keys must draw from a
    * value space ≫ corpus size, i.e. nBits/nBands ≥ log₂(nDocs) +
    * margin — otherwise buckets stop splitting once the corpus passes
    * 2^(band width) and pair generation goes quadratic. Returns the
    * smallest width satisfying the rule that is BOTH a multiple of 4
    * (the hex-nibble signature constraint) AND divisible by `nBands`
    * (the banding constraint) — i.e. a multiple of lcm(4, nBands) —
    * so the result always feeds [[simHashSignatures]] /
    * [[simHashNearDupPairs]] without tripping their requires.
    * Clamped to ≤ 128 (the md5 nibble budget: beyond ~2³⁰-doc corpora
    * at 4 bands, add bands or shard the corpus instead); nBands whose
    * lcm with 4 exceeds 128 are rejected. */
  def autoSimHashWidth(nDocs: Long, nBands: Int = 4, margin: Int = 4): Int = {
    require(nDocs > 0 && nBands > 0)
    val step = lcm(4, nBands)
    require(step <= 128,
      s"nBands=$nBands needs nBits in steps of $step > 128 (md5 nibble budget)")
    val perBand = math.ceil(log2(nDocs.toDouble)).toInt + margin
    val raw = perBand * nBands
    val rounded = ((raw + step - 1) / step) * step
    val floorW = ((8 + step - 1) / step) * step   // smallest valid width ≥ 8
    val capW = (128 / step) * step                // largest valid width ≤ 128
    math.min(capW, math.max(floorW, rounded))
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  private def lcm(a: Int, b: Int): Int = {
    @annotation.tailrec def gcd(x: Int, y: Int): Int = if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }

  /** Per-document SimHash signature (id, simhash): an `nBits`-char
    * '0'/'1' string whose bit j is the sign of the document's token
    * occurrences' ±1 votes, bit j of each token's md5 (nibble j/4 of
    * the hex digest, LSB-first within the nibble) — the DuckDB
    * oracle's arithmetic. Documents with no non-empty token emit no
    * row.
    *
    * Row-local: ONE [[graft.functions.SimHashSign]] kernel pass over
    * the document's per-token md5-hex prefixes — no explode, no
    * exchange, no aggregate state, so it runs unchanged on a stream.
    * The no-token drop is a predicate on the TEXT (a non-space
    * character exists iff a non-empty token does): a filter on the
    * hex array would be pushed below the projection with the
    * per-token md5 chain inlined, hashing every token twice (r10
    * plan-audit finding).
    *
    * Width (≤ 128 bits — the md5 nibble budget): **64, the default, is
    * the corpus-scale width**; 32 is the declared-query width (oracle
    * parity). Band blocking carves the signature into `nBands`
    * substrings, and a band over b bits has only 2^b possible VALUES —
    * so at 32 bits / 4 bands every bucket key comes from a 256-value
    * space, bucket sizes grow as n/256·⟨band skew⟩ with corpus size and
    * the Σ|bucket|² pair space goes quadratic once n ≫ 2^8 (the r8
    * sweep measured exactly this saturation at ×16 growth — SCALE.md
    * "Fixed-width blocking saturates"). At 64 bits the band space is
    * 2^16 per band and random collisions stay negligible to ~10⁷ docs
    * per partition of the banding key space; beyond that, widen again
    * (96/128) — [[autoSimHashWidth]] sizes it when the corpus size is
    * known. */
  def simHashSignatures(docs: DataFrame, textCol: Column, idCol: Column,
      nBits: Int = 64): DataFrame = {
    require(nBits % 4 == 0 && nBits >= 8 && nBits <= 128,
      s"nBits must be a multiple of 4 in [8,128], got $nBits")
    val nHex = nBits / 4
    val hexes = transform(filter(split(textCol, " "), t => length(t) > 0),
      t => substring(md5(t.cast("binary")), 1, nHex))
    docs.filter(length(translate(textCol, " ", "")) > 0)
      .select(idCol.as("id"),
        graft.functions.GraftFunctions.simHashSign(hexes, nBits).as("simhash"))
  }

  /** Exact Jaccard of the given (id1, id2) pairs over per-document
    * distinct shingle sets (id, shset) — [[shingleSets]], or any frame
    * carrying those two columns. Output: (id1, id2, inter, jac).
    *
    * Row-local per pair: the candidate docs' sets are semi-joined out
    * of `sets` first (the build side is the pairs' exploded ids,
    * broadcast: LSH bounds them, and without the hint the corpus side
    * would be exchanged and sorted), each pair joins its two sets, and
    * `size(array_intersect)` scores it in its own row. No explode and
    * no aggregate, so work follows |pairs|, and a duplicated input pair
    * yields a duplicated row with the same score — it cannot
    * double-count.
    *
    * OUTPUT CONTRACT: a pair whose docs share no shingle (incl. a doc
    * too short to shingle, or absent from `sets`) emits NO row. Callers
    * that need explicit jac=0 rows left-join this output back to their
    * pair list; the declared-query oracles mirror the omission, so it
    * is pinned, not accidental. */
  def jaccardPairs(sets: DataFrame, pairs: DataFrame): DataFrame = {
    // no distinct on the exploded ids: a LEFT SEMI join's output
    // ignores duplicate build-side keys, and the broadcast stays
    // ≤ 2|pairs| ids
    val candIds = pairs.select(explode(array(col("id1"), col("id2"))).as("id"))
    val candDocs = sets.join(broadcast(candIds), Seq("id"), "left_semi")
      .select(col("id"), col("shset"))
    pairs.select(col("id1"), col("id2"))
      .join(candDocs.select(col("id").as("id1"), col("shset").as("s1")), "id1")
      .join(candDocs.select(col("id").as("id2"), col("shset").as("s2")), "id2")
      // the zero-overlap drop is arrays_overlap, not `inter > 0`: Spark
      // pushes a filter through the projection into the join condition
      // with the alias inlined, and array_intersect would run twice per
      // pair. coalesce: from a null-intolerant condition on s1/s2 Spark
      // infers isnotnull(shset) and pushes it below an uncached sets
      // projection with the shingle kernel inlined — twice per doc
      .filter(coalesce(arrays_overlap(col("s1"), col("s2")), lit(false)))
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .select(col("id1"), col("id2"), col("inter"),
        (col("inter") / (size(col("s1")).cast("long") + size(col("s2")).cast("long")
          - col("inter"))).as("jac"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance, found via band
    * blocking — the LINEAR pair-generation path for signature-level
    * dedup (the MinHash/LSH dual for SimHash sketches).
    *
    * Input: (id, simhash) rows as produced by [[simHashSignatures]],
    * one per id (an `nBits`-char '0'/'1' string — `nBits` must match
    * the signature width, library default 64). The bits are cut into
    * `nBands` equal substrings; a pair is examined
    * only when at least one band matches exactly, i.e. the self-join
    * is an EQUI-join on (band, substring) — it shuffles band keys,
    * never pair space. By pigeonhole, any pair with Hamming distance
    * < `nBands` shares an identical band, so for maxHamming ≤
    * nBands-1 the blocked result EQUALS the all-pairs result — exact,
    * not approximate, recall.
    *
    * The distance itself is integer arithmetic: the bit-string parses
    * into ≤32-bit BIGINT chunks (base-2 `conv`; a 64-bit chunk would
    * overflow to null on a set sign bit) and the distance is
    * `bit_count(sig1 XOR sig2)` summed per chunk — one codegen'd
    * instruction pair per chunk per candidate, engine-portable
    * (DuckDB: `bit_count(xor(a::BIT, b::BIT))`).
    *
    * 100 TB shape: cost is Σ|band bucket|² over nBands·n band rows,
    * same contract as MinHash-LSH banding; no all-pairs product
    * exists in the plan. Skewed buckets (a common signature) are the
    * salting candidate — at that point the bucket IS an exact-dup
    * cluster and exact dedup should run first. Band-width sizing:
    * 2^(nBits/nBands) must stay ≫ corpus size or buckets saturate
    * (measured — SCALE.md); [[autoSimHashWidth]] encodes the rule. */
  def simHashNearDupPairs(sigs: DataFrame, maxHamming: Int = 3,
      nBands: Int = 4, nBits: Int = 64): DataFrame = {
    require(nBits % nBands == 0, s"nBands must divide $nBits, got $nBands")
    require(maxHamming < nBands,
      s"band blocking is exact only for maxHamming < nBands ($maxHamming >= $nBands)")
    val nChunks = (nBits + 31) / 32
    // WIDTH GUARD, per row at execution: a signature narrower than
    // nBits (the r9 32→64 default-migration scenario) would make the
    // tail bands all-'' — the whole corpus in ONE bucket, a quadratic
    // self-join — while the tail chunks conv('') to null, nulling ham
    // and silently dropping every true pair AFTER paying that shuffle.
    val sig = when(length(col("simhash")) === nBits, col("simhash"))
      .otherwise(raise_error(concat(
        lit(s"simHashNearDupPairs: signature width != nBits ($nBits); got "),
        length(col("simhash")),
        lit(" — pass the width the signatures were built at"))))
    val chunkCols = (0 until nChunks).map { c =>
      val len = math.min(32, nBits - c * 32)
      conv(substring(col("simhash"), c * 32 + 1, len), 2, 10)
        .cast("long").as(s"c$c")
    }
    val withSig = sigs.withColumn("simhash", sig)
      .select(col("id") +: col("simhash") +: chunkCols: _*)
    val bands = withSig.select(
      col("id") +: col("simhash") +: (0 until nChunks).map(c => col(s"c$c")) :+
        explode(simHashBandArray(nBits, nBands)).as("bx"): _*)
      .withColumn("band", col("bx.band")).withColumn("bh", col("bx.bh"))
      .drop("bx")
    val ham = (0 until nChunks).map(c =>
      expr(s"bit_count(a.c$c ^ b.c$c)")).reduce(_ + _)
    // a pair is emitted only at its LOWEST matching band: no band below
    // the joined one may match as well. Each pair then leaves the join
    // once, so no distinct (an exchange and aggregate over pair space)
    // follows it.
    val w = nBits / nBands
    def bandOf(side: String, j: Int) = substring(col(s"$side.simhash"), 1 + j * w, w)
    val firstMatch = (0 until nBands - 1).map(j =>
      col("a.band") <= j || bandOf("a", j) =!= bandOf("b", j)).foldLeft(lit(true))(_ && _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id") && firstMatch)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        ham.cast("long").as("ham"))
      .filter(col("ham") <= maxHamming)
  }

  /** The (band, bh) struct array every SimHash banding consumer
    * explodes from a `simhash` column — ONE definition shared by the
    * batch pair join and the stream/registry band keys, so the key
    * spaces they equi-join across cannot drift (a drifted separator
    * or slice = zero candidates, silently). */
  private def simHashBandArray(nBits: Int, nBands: Int): Column = {
    val w = nBits / nBands
    array((0 until nBands).map(b =>
      struct(lit(b).as("band"),
        substring(col("simhash"), 1 + b * w, w).as("bh"))): _*)
  }

  /** Row-local SimHash band keys (id, band, bh) straight from text —
    * the stream-side counterpart of the banding inside
    * [[simHashNearDupPairs]]: arriving docs emit their `nBands`
    * bucket keys statelessly; join them against an indexed band table
    * for incremental Hamming near-dup candidates
    * (`StreamingPipeline.simHashCandidatesStream`).
    *
    * WIDTH MIGRATION (r9): the default nBits moved 32 → 64. Band keys
    * of different widths NEVER match — probing a persisted band table
    * built under the old default with new-default keys yields zero
    * candidates silently. Pass the table's width explicitly when
    * reading pre-r9 state, or rebuild it at 64 (the persisted-registry
    * path, [[advanceBandRegistry]], stamps its params and fails fast
    * instead — use it for any state that outlives a session). */
  def simHashBandKeys(docs: DataFrame, textCol: Column, idCol: Column,
      nBits: Int = 64, nBands: Int = 4): DataFrame = {
    require(nBits % nBands == 0, s"nBands must divide $nBits, got $nBands")
    simHashSignatures(docs, textCol, idCol, nBits)
      .select(col("id"), explode(simHashBandArray(nBits, nBands)).as("bx"))
      .select(col("id"), col("bx.band").as("band"), col("bx.bh").as("bh"))
  }

  /** Probe-side width guard for a PERSISTED SimHash band table: wraps
    * `bh` so any row whose band width differs from nBits/nBands raises
    * at execution instead of joining to zero candidates silently (the
    * r9 32→64 default-migration hazard — band keys of different widths
    * NEVER equi-match, so a stale index makes every probe come back
    * empty with no error). The check is one codegen'd length compare
    * per index row; streaming-safe (stateless projection). Also
    * asserts the band INDEX domain: an index built under a different
    * nBands carries band ordinals outside [0, nBands), which would
    * otherwise drop a fraction of true candidates silently. Every
    * in-library probe of a caller-supplied band table routes through
    * here ([[graft.streaming.StreamingPipeline.simHashCandidatesStream]]);
    * registries that outlive a session should prefer
    * [[advanceBandRegistry]], which stamps its params and fails fast
    * at LOAD time. */
  def checkedBandIndex(indexBands: DataFrame, nBits: Int, nBands: Int): DataFrame = {
    require(nBits % nBands == 0, s"nBands must divide $nBits, got $nBands")
    val w = nBits / nBands
    indexBands
      .withColumn("bh",
        when(length(col("bh")) === w, col("bh")).otherwise(raise_error(concat(
          lit(s"simhash band index width mismatch: expected $w-char bands " +
            s"(nBits=$nBits / nBands=$nBands); got "),
          length(col("bh")),
          lit(" — the index was persisted under different params; pass the " +
            "width it was built at, or rebuild it at the current default")))))
      .withColumn("band",
        when(col("band") >= 0 && col("band") < nBands, col("band"))
          .otherwise(raise_error(concat(
            lit(s"simhash band index nBands mismatch: band ordinal "),
            col("band"),
            lit(s" outside [0, $nBands) — the index was persisted under a " +
              "different nBands")))))
  }
}
