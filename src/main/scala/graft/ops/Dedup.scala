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
  *  - signatures are computed per-document (linear), candidate
  *    generation joins only on (band, bucket-hash) keys — the full
  *    text never enters a shuffle;
  *  - the final pairwise verify (`ngramJaccardPairs`) should only run
  *    on LSH candidates at scale, never all pairs: pass
  *    `candidates = minHashLshCandidates(...)` and join.
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

  /** MinHash signature: `numHashes` columns m0..m{k-1}, each the
    * lexicographic minimum of seeded md5 over the document's shingles.
    * min() is associative+commutative → partial aggregation works and
    * the result is deterministic under any partitioning. */
  def minHashSignatures(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val mins = (0 until numHashes).map(j =>
      min(md5(concat_ws("|", lit(j.toString), col("s")).cast("binary"))).as(s"m$j"))
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** Same signature, one-pass: `graft.functions.MinHashAgg` keeps all
    * `numHashes` minima in a single fixed-width typed buffer, so the
    * planner uses ObjectHashAggregate — Spark's HashAggregate cannot
    * hold variable-width string-min buffers and the column formulation
    * above falls back to SortAggregate (a sort per side per grouping).
    * Output is byte-identical to `minHashSignatures` (spec-enforced). */
  def minHashSignaturesFast(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val mh = sh.groupBy(col("id"))
      .agg(graft.functions.MinHashAgg.minhash(col("s"), numHashes).as("__mh"))
    mh.select(col("id") +:
      (0 until numHashes).map(j => col("__mh").getItem(j).as(s"m$j")): _*)
  }

  /** The same MinHash signature as [[minHashSignatures]], computed
    * ROW-LOCALLY as higher-order-function columns over the document's
    * own shingle array — no explode, no aggregation, no state. This is
    * the streaming-safe form (a per-doc groupBy on an unbounded stream
    * would keep state per document forever); on the batch path prefer
    * [[minHashSignaturesFast]], whose one-pass typed aggregate stays
    * codegen'd where HOFs are CodegenFallback. Byte-identical output
    * (spec-enforced). Returns null signature columns for docs with
    * fewer than `shingleLen` tokens — filter those out first when
    * banding. */
  def minHashColumns(textCol: Column, numHashes: Int = 8,
      shingleLen: Int = 3): Seq[Column] = {
    val sh = shingleArray(textCol, shingleLen)
    (0 until numHashes).map(j => minOverShingleArray(sh, j).as(s"m$j"))
    // NOTE: each returned column re-embeds the tokenize+shingle tree
    // (HOFs are CodegenFallback — no subexpression elimination), so
    // this convenience form shingles ~numHashes× per row. On a hot
    // path, project [[shingleArray]] into a real column once and map
    // [[minOverShingleArray]] over it — what [[lshBandKeys]] does.
  }

  /** The document's shingle array as one Column; null when the doc
    * has fewer than `n` tokens. Runs in the codegen ShingleWindows
    * kernel: the old HOF form referenced the `split` subtree n times
    * INSIDE its lambda — no CSE for lambda subtrees (SPARK-35886), so
    * the regex split re-ran 3× per shingle (measured 26.7 s of pure
    * shingle construction at ×16 docs). The kernel evaluates the
    * token array once and emits all windows in one pass. */
  def shingleArray(textCol: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.shingleWindows(split(textCol, " "), n)

  /** min(md5("{j}|" + s)) over a shingle-array column — one MinHash
    * permutation, row-local. */
  def minOverShingleArray(shCol: Column, j: Int): Column =
    array_min(transform(shCol,
      s => md5(concat_ws("|", lit(j.toString), s).cast("binary"))))

  /** Row-local LSH band keys (id, band, h) straight from the text —
    * [[minHashColumns]] + banding in one stateless projection, so it
    * runs unchanged on a STREAM (each arriving doc emits its `bands`
    * bucket keys; join them against an indexed band table for
    * incremental near-dup candidates). Docs with fewer than
    * `shingleLen` tokens emit nothing, matching [[shingles]]. */
  def lshBandKeys(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): DataFrame = {
    // ALL numHashes minima in one kernel pass over the shingle array
    // (graft.functions.MinHashMinima): the per-permutation
    // array_min(transform(md5)) HOF columns re-walked the shingle
    // array through interpreted lambda dispatch numHashes× per row
    // with an intermediate md5-string array each — the same
    // CodegenFallback tax SimHashSign retired on the SimHash twin.
    // Materialized as a real column so the per-band getItems below
    // read it by attribute (single evaluation); a null shingle array
    // (doc shorter than shingleLen) nulls the minima and is filtered,
    // matching the old shingle-array filter.
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
    * Candidate threshold ≈ (1/bands)^(bands/numHashes).
    * Uses the one-pass sketch + a cached band table (both join sides
    * read it), the same shape as the declared q_dedup_minhash_lsh.
    *
    * `cacheBands = false` skips the cache for callers managing their
    * own persistence (the cached table is otherwise pinned for the
    * session — repeated calls on changing inputs should either pass
    * false or unpersist via the catalog). */
  def minHashLshCandidates(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3,
      cacheBands: Boolean = true): DataFrame = {
    val raw = lshBands(
      minHashSignaturesFast(shingles(docs, textCol, idCol, shingleLen), numHashes),
      numHashes, bands)
    val bandsDf = if (cacheBands) raw.cache() else raw
    bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Doc ids appearing in ≥1 LSH candidate pair, derived from bucket
    * occupancy in ONE aggregation pass over a (id, band, h) band table
    * — a doc is a candidate iff some bucket it occupies holds ≥2 docs
    * (each doc contributes at most one row per bucket, so a row count
    * suffices). Equivalent to distinct(id1 ∪ id2) over the pair
    * self-join but avoids computing the join at all — the cheap way to
    * feed a candidate-doc restriction to `jaccardFromShingles`. */
  def lshCandidateDocIds(bands: DataFrame): DataFrame = {
    val hot = bands.groupBy(col("band"), col("h"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("band"), col("h"))
    bands.join(hot, Seq("band", "h"), "left_semi")
      .select(col("id")).distinct()
  }

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

  /** SimHash signature per document at the LIBRARY DEFAULT width —
    * 64 bits (a 64-char '0'/'1' string): per-token md5-derived
    * hashes, weighted bit majority. 64-bit is the default since the
    * r8 scaling sweep measured 32-bit signatures' 8-bit bands
    * SATURATING at ×16 corpus growth (band value space exhausts; pair
    * space then grows quadratically — SCALE.md "Fixed-width blocking
    * saturates"). Pass an explicit width through
    * [[simHashSignaturesWide]] to pin a narrower/wider signature —
    * sized by [[autoSimHashWidth]] when the corpus size is known.
    *
    * The weighted bit-sums are `nBits` aggregate COLUMNS over the
    * (id, token, count) table — one hash aggregate, map-side
    * combinable — rather than exploding every token row nBits× (an
    * nBits× shuffle blowup) and aggregating per (id, bitpos). Bit j's
    * ±1 sign comes from nibble j/4 of the hex token hash; identical
    * arithmetic to the DuckDB oracle's unnest formulation. */
  def simHashSignatures(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    simHashSignaturesWide(docs, textCol, idCol, 64)

  /** Band-space sizing rule (SCALE.md "Fixed-width blocking
    * saturates"): each of the `nBands` band keys must draw from a
    * value space ≫ corpus size, i.e. nBits/nBands ≥ log₂(nDocs) +
    * margin — otherwise buckets stop splitting once the corpus passes
    * 2^(band width) and pair generation goes quadratic. Returns the
    * smallest width satisfying the rule that is BOTH a multiple of 4
    * (the hex-nibble signature constraint) AND divisible by `nBands`
    * (the banding constraint) — i.e. a multiple of lcm(4, nBands) —
    * so the result always feeds [[simHashSignaturesWide]] /
    * [[simHashNearDupPairsWide]] without tripping their requires.
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

  /** SimHash signature at an arbitrary width (≤ 128 bits — the md5
    * nibble budget). 32 bits is the declared-query width (oracle
    * parity); **64 is the corpus-scale width**: band blocking carves
    * the signature into `nBands` substrings, and a band over b bits
    * has only 2^b possible VALUES — so at 32 bits / 4 bands every
    * bucket key comes from a 256-value space and bucket sizes grow as
    * n/256·⟨band skew⟩ with corpus size, driving the Σ|bucket|² pair
    * space quadratic once n ≫ 2^8 (ScaleProbe risk mode measures
    * exactly this saturation). At 64 bits the band space is 2^16 per
    * band and random collisions stay negligible to ~10⁷ docs per
    * partition of the banding key-space; beyond that, widen again
    * (96/128) — the pigeonhole exactness argument is width-agnostic.
    * Same one-aggregate plan shape at every width: the bit-sums are
    * `nBits` aggregate columns, never an explode. */
  def simHashSignaturesWide(docs: DataFrame, textCol: Column, idCol: Column,
      nBits: Int = 64): DataFrame = {
    require(nBits % 4 == 0 && nBits >= 8 && nBits <= 128,
      s"nBits must be a multiple of 4 in [8,128], got $nBits")
    val nHex = nBits / 4
    val tokc = docs.select(idCol.as("id"), explode(split(textCol, " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", substring(md5(col("tok").cast("binary")), 1, nHex))
    // hex nibbles as ints, once per token row
    val withNibs = (0 until nHex).foldLeft(tokc) { (df, k) =>
      df.withColumn(s"n$k",
        expr(s"instr('0123456789abcdef', substring(h, ${k + 1}, 1)) - 1"))
    }
    val bitSums = (0 until nBits).map { j =>
      val nib = col(s"n${j / 4}")
      val p = 1 << (j % 4)
      sum(col("cnt") * ((nib.divide(p).cast("int") % 2) * 2 - 1)).as(s"b$j")
    }
    val sig = concat((0 until nBits).map(j =>
      when(col(s"b$j") > 0, "1").otherwise("0")): _*)
    withNibs.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  /** Exact Jaccard over distinct n-gram shingle sets for given
    * candidate pairs (or all pairs when `candidates` is None — test
    * scale only). Output: (id1, id2, inter, jac).
    *
    * With candidates, the shingle table is semi-joined down to
    * candidate documents BEFORE the self-join — the quadratic pair
    * space never materializes for non-candidates (the post-aggregation
    * semi join then trims pairs where both docs are candidates but the
    * pair itself is not). This is the 100 TB contract: pairwise verify
    * cost follows |candidates|, not |corpus|². */
  def ngramJaccardPairs(docs: DataFrame, textCol: Column, idCol: Column,
      shingleLen: Int = 3, candidates: Option[DataFrame] = None): DataFrame =
    jaccardFromShingles(shingles(docs, textCol, idCol, shingleLen), candidates)

  /** Same verify, from a pre-built raw (id, s) shingle-occurrence table
    * — lets callers share one shingle scan (and its cache) between
    * candidate generation and verification. The candidate semi-join is
    * applied BELOW the distinct: at scale the distinct then aggregates
    * only candidate documents' shingles, not the corpus. */
  def jaccardFromShingles(shRaw: DataFrame,
      candidates: Option[DataFrame] = None,
      candidateIds: Option[DataFrame] = None): DataFrame = {
    // Doc restriction applies when EITHER form is given: explicit ids
    // (e.g. lshCandidateDocIds' one-pass bucket-occupancy scan — the
    // cheap derivation) or ids implied by the candidate pairs.
    // broadcast(): candidate ids/pairs are a vanishing fraction of the
    // corpus BY CONSTRUCTION (LSH bounds them), so they are legitimate
    // build sides. Without the hint Spark sort-merge-joins, exchanging
    // + sorting the full shingle table once per consumer; with it the
    // big side is never shuffled.
    val ids = candidateIds.orElse(candidates.map(c =>
      c.select(explode(array(col("id1"), col("id2"))).as("id")).distinct()))
    val restricted = ids match {
      case Some(i) => shRaw.join(broadcast(i), Seq("id"), "left_semi")
      case None => shRaw
    }
    val sh = restricted.distinct()
    candidates match {
      case Some(c) => jaccardOnPairs(sh, c)
      case None =>
        // All-pairs verify within the (possibly restricted) doc set —
        // unrestricted all-pairs is test scale only (scaladoc contract).
        val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
        val inter = sh.as("a").join(sh.as("b"),
            col("a.s") === col("b.s") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.toDF("id1", "n1"), "id1")
          .join(sizes.toDF("id2", "n2"), "id2")
          .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
    }
  }

  /** Exact Jaccard for the given (id1, id2) pairs over a
    * DISTINCT (id, s) shingle table already restricted to candidate
    * documents. OUTPUT CONTRACT: pairs whose docs share ZERO shingles
    * (incl. docs too short to shingle at all) emit NO row — the
    * intersection join has nothing to group. Callers that need
    * explicit jac=0 rows (verified-vs-rejected accounting) should
    * left-join this output back to their candidate list and coalesce
    * to 0; the declared-query oracles mirror the omit-empty
    * behavior, so it is pinned, not accidental. Callers that consume the restricted table repeatedly
    * (it feeds sizes + both intersection sides) should persist it —
    * it is candidate-bounded, so tiny by construction.
    *
    * Pair-FIRST intersection: fan each pair out to doc1's shingles,
    * then inner-join doc2's shingles on (id2, s). Work is
    * Σ_pairs |shingles(doc1)| — intersections are never materialized
    * for non-candidate pairs, unlike a candidate-doc self-join which
    * computes all C(|cand docs|, 2) overlaps and discards most.
    * shuffle_hash: both sides are candidate-bounded; avoids the sort a
    * merge join would add.
    *
    * Set sizes: an input that already HAS an `n` column (a persisted
    * sized-shingle table — the repeated-verify shape) carries sizes
    * THROUGH the intersection join (the group-by takes `max`,
    * constant within a group) — zero extra sizing work per run. An
    * unsized input pays one map-side-combinable groupBy (the exchange
    * carries |candidate docs| partial rows, the table having been
    * semi-joined to candidate ids first) joined back onto the
    * candidate-bounded aggregated pairs — never a count-over-window,
    * which would shuffle + sort every shingle OCCURRENCE to size the
    * sets. */
  def jaccardOnPairs(sh: DataFrame, pairs: DataFrame,
      pairsDistinct: Boolean = false): DataFrame = {
    // distinct(): a duplicated candidate pair would fan the shingle
    // match out twice and double-count inter (jac > 1, or a zero
    // denominator for exact dups). LSH callers generate distinct pairs
    // already and may assert so (`pairsDistinct`) to keep the exchange
    // + aggregate out of the broadcast-build job; the default guards
    // the public API at candidate-bounded cost.
    val p = pairs.select(col("id1"), col("id2"))
    val distinctPairs = if (pairsDistinct) p else p.distinct()
    val bp = broadcast(distinctPairs)
    if (sh.columns.contains("n")) {
      // pre-sized input (a persisted sized-shingle table — the
      // repeated-verify shape): sizes ride THROUGH the intersection
      // join and the group-by takes max (constant within a group) —
      // no extra sizing jobs at all.
      val sized = sh.select(col("id"), col("s"), col("n"))
      bp.join(sized.select(col("id").as("id1"), col("s"), col("n").as("n1")), Seq("id1"))
        .join(sized.select(col("id").as("id2"), col("s"), col("n").as("n2"))
          .hint("shuffle_hash"), Seq("id2", "s"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"), max(col("n1")).as("n1"), max(col("n2")).as("n2"))
        .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
        .select(col("id1"), col("id2"), col("inter"), col("jac"))
    } else {
      // unsized input: per-doc set sizes via a map-side-combinable
      // groupBy (the exchange carries |docs| partial rows) — never a
      // count-over-window, which would shuffle + sort every shingle
      // occurrence just to size the sets. The size table is semi-
      // joined down to candidate documents before broadcasting, so
      // both broadcasts stay candidate-bounded at any corpus size.
      // candIds reads the UNHINTED pairs: under a projection and a
      // union the broadcast hint is not on a join side, and Spark
      // drops it with a HintErrorLogger WARN (IgnoredHintSpec).
      val plain = sh.select(col("id"), col("s"))
      val candIds = distinctPairs.select(col("id1").as("id"))
        .union(distinctPairs.select(col("id2").as("id"))).distinct()
      val sizes = plain.join(candIds, Seq("id"), "left_semi")
        .groupBy(col("id")).agg(count(lit(1)).as("n"))
      bp.join(plain.select(col("id").as("id1"), col("s")), Seq("id1"))
        .join(plain.select(col("id").as("id2"), col("s")).hint("shuffle_hash"),
          Seq("id2", "s"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("id").as("id1"), col("n").as("n1"))), Seq("id1"))
        .join(broadcast(sizes.select(col("id").as("id2"), col("n").as("n2"))), Seq("id2"))
        .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
        .select(col("id1"), col("id2"), col("inter"), col("jac"))
    }
  }

  /** Near-duplicate pairs by SimHash Hamming distance, found via band
    * blocking — the LINEAR pair-generation path for signature-level
    * dedup (the MinHash/LSH dual for SimHash sketches).
    *
    * Input: (id, simhash) rows as produced by [[simHashSignatures]] /
    * [[simHashSignaturesWide]] (an `nBits`-char '0'/'1' string —
    * `nBits` must match the signature width, library default 64). The
    * bits are cut into `nBands` equal substrings; a pair is examined
    * only when at least one band matches exactly, i.e. the self-join
    * is an EQUI-join on (band, substring) — it shuffles band keys,
    * never pair space. By pigeonhole, any pair with Hamming distance
    * < `nBands` shares an identical band, so for maxHamming ≤
    * nBands-1 the blocked result EQUALS the all-pairs result — exact,
    * not approximate, recall.
    *
    * The distance itself is integer arithmetic: the bit-string parses
    * to BIGINT chunks (base-2 `conv`) and the distance is
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
      nBands: Int = 4, nBits: Int = 64): DataFrame =
    simHashNearDupPairsWide(sigs, maxHamming, nBands, nBits)

  /** [[simHashNearDupPairs]] for wide signatures
    * ([[simHashSignaturesWide]], default 64-bit): identical pigeonhole
    * contract (exact recall for `maxHamming < nBands`), but the band
    * key space is 2^(nBits/nBands) — the property that keeps bucket
    * sizes flat as the corpus grows (see the width discussion on
    * [[simHashSignaturesWide]]). The Hamming distance is computed
    * chunk-wise: the bit-string parses into ≤32-bit BIGINT chunks
    * (64-bit conv would overflow to null on a set sign bit) and the
    * distance is the sum of per-chunk `bit_count(xor)` — still one
    * codegen'd instruction pair per chunk per candidate. */
  def simHashNearDupPairsWide(sigs: DataFrame, maxHamming: Int = 3,
      nBands: Int = 4, nBits: Int = 64): DataFrame = {
    require(nBits % nBands == 0, s"nBands must divide $nBits, got $nBands")
    require(maxHamming < nBands,
      s"band blocking is exact only for maxHamming < nBands ($maxHamming >= $nBands)")
    val w = nBits / nBands
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
      col("id") +: (0 until nChunks).map(c => col(s"c$c")) :+
        explode(simHashBandArray(nBits, nBands)).as("bx"): _*)
      .withColumn("band", col("bx.band")).withColumn("bh", col("bx.bh"))
      .drop("bx")
    val ham = (0 until nChunks).map(c =>
      expr(s"bit_count(a.c$c ^ b.c$c)")).reduce(_ + _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        ham.cast("long").as("ham"))
      .filter(col("ham") <= maxHamming)
      .distinct()
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

  /** Row-local SimHash signature — [[simHashSignaturesWide]] as ONE
    * stateless projection (an HOF fold per bit over the token array),
    * so it runs unchanged on a STREAM: arriving documents emit their
    * signature with zero state, the same argument as the row-local
    * MinHash columns behind [[lshBandKeys]]. Byte-identical to the
    * aggregate form (spec-gated); documents with no non-empty token
    * are dropped, matching the aggregate's groupBy. The aggregate
    * form remains the BATCH path (hash-aggregate, map-side
    * combinable); the signature here runs in the codegen
    * [[graft.functions.SimHashSign]] kernel — one pass over the
    * per-token hex array, so statelessness no longer costs
    * nBits·|tokens| interpreted HOF steps per row (18× measured, see
    * the kernel's scaladoc); the remaining interpreted work is the
    * per-token md5-hex build. */
  def simHashRowLocal(docs: DataFrame, textCol: Column, idCol: Column,
      nBits: Int = 64): DataFrame = {
    require(nBits % 4 == 0 && nBits >= 8 && nBits <= 128,
      s"nBits must be a multiple of 4 in [8,128], got $nBits")
    val nHex = nBits / 4
    // materialize the per-token hex prefixes ONCE as a real column:
    // the per-bit folds below reference it by attribute, so md5 runs
    // once per token, not nBits× (same trick as lshBandKeys' __sh)
    val withHex = docs.select(idCol.as("id"),
        transform(filter(split(textCol, " "), t => length(t) > 0),
          t => substring(md5(t.cast("binary")), 1, nHex)).as("__hx"))
      .filter(size(col("__hx")) > 0)
    // ONE codegen kernel pass over the hex array instead of nBits
    // separate aggregate() HOF folds: the folds were CodegenFallback
    // (nBits·|tokens| interpreted lambda steps per row — the
    // documented "price of statelessness" this kernel retires), and
    // lambda-bearing subtrees are excluded from subexpression
    // elimination so nothing amortized them. Measured 26.1 → 1.45 s
    // at ×16 docs / 64 bits under forced evaluation (SimHashSign
    // scaladoc). Byte-parity with the aggregate signature form is
    // OpsSpec-gated at 32 and 64 bits.
    withHex.select(col("id"),
      graft.functions.GraftFunctions.simHashSign(col("__hx"), nBits)
        .as("simhash"))
  }

  /** Row-local SimHash band keys (id, band, bh) straight from text —
    * the stream-side counterpart of the banding inside
    * [[simHashNearDupPairsWide]]: arriving docs emit their `nBands`
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
    simHashRowLocal(docs, textCol, idCol, nBits)
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
