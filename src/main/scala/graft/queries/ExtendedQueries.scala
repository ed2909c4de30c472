package graft.queries

import org.apache.spark.sql.functions._

/** Extended LLM-data-pipeline operators (BASELINE.json north_star),
  * each with a DuckDB oracle: near-duplicate detection (MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding cosine), approximate-nearest-
  * neighbor search, and text analysis (language ID, quality scoring,
  * fingerprinting, token counting).
  *
  * Determinism devices:
  *  - MinHash uses the lexicographic MIN of md5 hex strings (seeded by
  *    prefix) — pure string ops, identical on both engines, and a
  *    legitimate 128-bit universal hash family at scale.
  *  - SimHash bit extraction is integer arithmetic on hex nibbles.
  *  - Jaccard/ratios are integer-count divisions (bit-identical).
  *  - Cosine outputs are rounded to 4 dp; ORDER BY uses the rounded
  *    value + unique id tiebreakers so LIMIT cuts identically.
  *
  * Scale notes (the 100 TB design, exercised here at test scale):
  *  - MinHash/LSH is the linear-cost near-dup path: shingle explode →
  *    per-doc signature (map-side combinable min-agg) → band-bucket
  *    self-join. The self-join shuffles only (band, hash) keys, never
  *    full texts, and bucket sizes bound the pair blow-up.
  *  - Brute-force pair cosine is quadratic — kept as the correctness
  *    baseline; graft.ops.Similarity holds the LSH-bucketed ANN that
  *    replaces it at scale.
  */
object ExtendedQueries {

  /** The session memo registry: every artifact a query shares across
    * invocations (cached frames, corpus counts, small binary models,
    * persisted layouts, the trained IVF quantizer) lives in ONE map
    * keyed by (session, dir, key), built once by [[memo]] and dropped
    * by [[releaseCaches]]. The queries are `(session, dir) =>
    * DataFrame` lambdas re-invoked per benchmark run, so without the
    * memo every call would re-pay the build — and a frame re-`cache()`d
    * per call logs `WARN CacheManager: Asked to cache already cached
    * data`, noise that has broken the driver's bench-tail JSON parse.
    *
    * The registry is also the FENCE on the untimed region (r18 verdict
    * #6): memos are the mechanism by which work leaves a query's timed
    * region (built once in Bench's disclosed warm-up, read by the timed
    * runs), so a key missing from [[memoDecls]] is by construction new
    * precomputation nobody reviewed — [[memo]] rejects it at build
    * time, and MemoFenceSpec pins the declaration (and the
    * `Bench.prebuilt` list derived from it) against its own committed
    * copy, so widening it requires a visible two-file diff. */
  private[graft] sealed trait MemoKind
  private[graft] object MemoKind {
    case object Frame extends MemoKind
    case object Count extends MemoKind
    case object Bytes extends MemoKind
    case object Path extends MemoKind
    case object Model extends MemoKind
  }

  /** A disclosed untimed artifact: its name in `Bench.prebuilt` and the
    * declared query Bench's warm-up builds it with. */
  private[graft] final case class Prebuilt(name: String, warmQuery: String)
  private[graft] final case class MemoDecl(key: String, kind: MemoKind,
      prebuilt: Option[Prebuilt] = None)

  /** One declaration per memo key. The disclosed artifacts come first,
    * in `Bench.prebuilt` (and warm-up) order. */
  private[graft] val memoDecls: Seq[MemoDecl] = {
    import MemoKind._
    def disclosed(key: String, kind: MemoKind, name: String, query: String) =
      MemoDecl(key, kind, Some(Prebuilt(name, query)))
    def internal(kind: MemoKind)(keys: String*) = keys.map(MemoDecl(_, kind))
    Seq(
      disclosed("shingles", Frame, "shingle_cache", "q_text_fingerprint"),
      disclosed("embednorm", Frame, "embed_norms_cache", "q_similarity_cosine"),
      disclosed("toktf", Frame, "token_count_cache", "q_token_df"),
      disclosed("skiplayout", Path, "skipping_layout", "q_skipping_prune"),
      disclosed("ivfpqindex", Path, "ivfpq_index", "q_ivfpq_probe"),
      disclosed("bucketjoin", Path, "bucket_join_tables", "q_bucket_join"),
      disclosed("compactlayout", Path, "compacted_layout", "q_compact_scan"),
      disclosed("compactpart", Path, "compact_partitioned_layout",
        "q_compact_partitioned"),
      disclosed("scd2adv", Path, "scd2_state", "q_scd2_advance"),
      disclosed("sketchroll", Path, "sketch_rollup_state", "q_sketch_rollup_band"),
      disclosed("streamcdc", Path, "stream_cdc_state", "q_stream_cdc_publish"),
      disclosed("streamscd2", Path, "stream_scd2_state", "q_stream_scd2_publish"),
      disclosed("streamagg", Path, "stream_agg_state", "q_stream_agg_publish"),
      disclosed("streamband", Path, "stream_band_registry", "q_stream_band_publish"),
      disclosed("cleancorpus", Frame, "cleaned_corpus_cache", "q_train_pipeline"),
      disclosed("medialayout", Path, "media_layout", "q_media_meta"),
      disclosed("ivfpqadv", Path, "ivfpq_advanced_index", "q_ivfpq_advance"),
      disclosed("ivfpqrm", Path, "ivfpq_removed_index", "q_ivfpq_remove"),
      disclosed("ivfpqleaf", Path, "ivfpq_leafwise_index", "q_ivfpq_leafwise"),
      disclosed("jsonl", Path, "jsonl_layout", "q_jsonl_quarantine"),
      disclosed("streamjsonl", Path, "stream_jsonl_state", "q_stream_jsonl_publish")
    ) ++ internal(Frame)("bands", "bgcounts", "bgmodel", "candpairs",
      "doclens", "docprof", "dupcc", "eventprof", "ivfassign", "jacpairs",
      "mhsig", "sheval", "shsplit", "shtrain", "simsig", "tfidfscore") ++
      internal(Count)("ndocs", "ntoks") ++ // corpus sizes
      internal(Bytes)("bloomfilter") ++    // the bloom join sketch
      internal(Path)("cleanids") ++        // the cleaned corpus's survivor ids
      internal(Model)("ivfmodel")          // the trained IVF coarse quantizer
  }
  private[graft] val allowedMemoKeys: Map[String, MemoKind] =
    memoDecls.map(m => m.key -> m.kind).toMap
  private[graft] val prebuiltMemos: Seq[Prebuilt] = memoDecls.flatMap(_.prebuilt)

  /** A registry value, one case per kind; each knows its own release. */
  private[graft] sealed trait Memo { def release(): Unit = () }
  private[graft] final case class FrameMemo(df: org.apache.spark.sql.DataFrame)
      extends Memo {
    // a stopped session's blocks died with its context
    override def release(): Unit = if (!df.sparkSession.sparkContext.isStopped) {
      df.unpersist()
      // the dupcc frame reads from a localCheckpoint — its blocks are
      // pinned on the RDD, not in the CacheManager (no-op for frames
      // without LogicalRDD leaves)
      graft.ops.Dedup.freeCheckpointBlocks(df)
    }
  }
  private[graft] final case class CountMemo(n: Long) extends Memo
  private[graft] final case class BytesMemo(bytes: Array[Byte]) extends Memo
  /** A persisted layout in its own temp dir; release deletes the dir:
    * the next consumer rebuilds into a FRESH one, so without this every
    * release→rebuild cycle would abandon one dir (r14 verdict #7).
    * Nothing can still be reading it — release runs between queries,
    * and every consumer goes through [[memoPath]], which rebuilds. */
  private[graft] final case class PathMemo(dir: String) extends Memo {
    override def release(): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
  private[graft] final case class ModelMemo(centroids: Seq[(Int, Seq[Double])])
      extends Memo

  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, String), Memo]()

  /** Get-or-build for every kind. NO computeIfAbsent: the builders nest
    * (jaccardPairs → lshCandidatePairs → bandTable → mhSignatures)
    * and run Spark jobs, and mutating a ConcurrentHashMap from inside
    * an in-flight mapping function violates its contract
    * (recursive-update IllegalStateException / livelock). */
  private[graft] def memo[M <: Memo](key: String, kind: MemoKind,
      s: org.apache.spark.sql.SparkSession, d: String)(build: => M): M = {
    require(allowedMemoKeys.contains(key),
      s"memo key '$key' is not in the committed untimed-region " +
        "allowlist (ExtendedQueries.memoDecls, pinned by " +
        "MemoFenceSpec) — new precomputation must be reviewed in, " +
        "not slipped in")
    require(allowedMemoKeys(key) == kind,
      s"memo key '$key' is declared as ${allowedMemoKeys(key)}, not $kind")
    val k = (s, d, key)
    val hit = memos.get(k)
    if (hit != null) return hit.asInstanceOf[M]
    // evict entries of stopped sessions so a session-per-batch embedder
    // that never calls releaseCaches cannot pin dead SparkSessions (and
    // their plans and layout dirs) in this static map forever
    memos.forEach { (ek, m) =>
      if (ek._1.sparkContext.isStopped && memos.remove(ek, m)) m.release()
    }
    if (kind == MemoKind.Frame) {
      // miss path under a reentrant lock: concurrent first-callers would
      // otherwise both run build.cache(), and the loser's second cache()
      // request logs the CacheManager WARN this memo exists to suppress.
      // synchronized (not computeIfAbsent) because the builders nest —
      // same-thread reentry is legal here, illegal in a CHM mapping fn.
      memos.synchronized {
        val raced = memos.get(k)
        if (raced != null) raced.asInstanceOf[M]
        else { val built = build; memos.put(k, built); built }
      }
    } else {
      // built outside the map; the first putIfAbsent wins and a losing
      // build is released (a path build deletes its temp dir)
      val built = build
      val raced = memos.putIfAbsent(k, built)
      if (raced == null) built else { built.release(); raced.asInstanceOf[M] }
    }
  }

  private[graft] def memoCache(key: String, s: org.apache.spark.sql.SparkSession, d: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    memo(key, MemoKind.Frame, s, d)(FrameMemo(build.cache())).df

  private[graft] def memoCount(key: String, s: org.apache.spark.sql.SparkSession, d: String)(
      build: => Long): Long =
    memo(key, MemoKind.Count, s, d)(CountMemo(build)).n

  private[graft] def memoBytes(key: String, s: org.apache.spark.sql.SparkSession, d: String)(
      build: => Array[Byte]): Array[Byte] =
    memo(key, MemoKind.Bytes, s, d)(BytesMemo(build)).bytes

  /** A layout written once per (session, dir) into a fresh dir under
    * the per-JVM scratch root by `build(dir)`; returns the dir. */
  private[graft] def memoPath(key: String, s: org.apache.spark.sql.SparkSession,
      d: String)(build: String => Unit): String =
    memo(key, MemoKind.Path, s, d) {
      val dir = graft.etl.Scratch.dir(key)
      build(dir)
      PathMemo(dir)
    }.dir

  /** Release every memo of (session, dir): frames are unpersisted,
    * layout dirs deleted, and the entries dropped, so the next query
    * call rebuilds from scratch. A long-lived session embedding this
    * library should call this after a batch completes; cold-mode
    * benchmarks call it before every query. */
  def releaseCaches(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    memos.forEach { (k, m) =>
      if (k._1 == s && k._2 == d && memos.remove(k, m)) m.release()
    }

  /** The live memo keys of (session, dir) — a view for specs. */
  private[graft] def liveMemoKeys(s: org.apache.spark.sql.SparkSession,
      d: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    memos.keySet.asScala.collect { case (`s`, `d`, key) => key }.toSet
  }

  /** Fixed integer codebook for q_pq_encode (m=4, kc=4, dsub=16, flat
    * row-major): value(j,c,t) = first-6-hex(md5("pq:j:c:t")) − 2²³,
    * the [[graft.ops.Similarity.plane]] recipe. Data-independent and
    * integer-valued, so the SAME constants embed as literals in the
    * Spark plan and in the DuckDB oracle text, and every
    * nearest-centroid margin is ~1e13 (8M-magnitude centroids vs O(1)
    * coordinates) — integer codes survive any summation-order ulp. */
  private[queries] val pqOracleCodebook: IndexedSeq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for (j <- 0 until 4; c <- 0 until 4; t <- 0 until 16) yield {
      val hex = md.digest(s"pq:$j:$c:$t".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) - 8388608L).toDouble
    }).toIndexedSeq
  }

  /** Fixed integer query vector for q_pq_adc: q(t) =
    * first-6-hex(md5("adcq:t")) mod 41 − 20 ∈ [−20, 20] — the same
    * data-independent literal-in-both-engines recipe as
    * [[pqOracleCodebook]]. Deliberately NOT normalized (PqModel.lut
    * divides by the norm): with integer q against the integer
    * codebook, every LUT entry (≤ 16·20·8.4M ≈ 2.7e9) and every ADC
    * sum (≤ 4× that) is an exact integer in double, so the ranking
    * hash-matches DuckDB bit-for-bit. */
  private[queries] val adcQueryVec: IndexedSeq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { t =>
      val hex = md.digest(s"adcq:$t".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 41) - 20).toDouble
    }
  }

  /** The q_pq_adc lookup table over the fixed codebook: lut(j*kc+c) =
    * dot(q subvector j, centroid c of subspace j) — all exact-integer
    * products and sums (< 2^53), so summation order is irrelevant. */
  private[queries] val adcOracleLut: IndexedSeq[Double] =
    (for (j <- 0 until 4; c <- 0 until 4) yield
      (0 until 16).map(t =>
        adcQueryVec(j * 16 + t) * pqOracleCodebook((j * 4 + c) * 16 + t)).sum
    ).toIndexedSeq

  /** Fixed SIGN coarse centroids for q_ivfpq_probe (4 × 64-dim, flat,
    * every coordinate ±1 from md5("ivfs2:c:t") parity). The ±1
    * construction makes Σg² = 64 for EVERY centroid, so the L2 argmin
    * reduces to argmax ⟨v, g_c⟩ — a genuinely data-dependent
    * random-signed-projection coarse quantizer (measured: ~25% per
    * list at all three SFs) whose per-vector argmin margins are data-
    * scale (min 4.4e-4 at sf0.1) — nine orders above any cross-engine
    * summation-rounding divergence, so Spark's Σg²−2⟨v,g⟩ form and
    * DuckDB's Σ(v−g)² form (they differ by the constant Σv²) pick the
    * same centroid for every row. A large-magnitude codebook here
    * would make Σg² differences dominate ⟨v,g⟩ and degenerate the
    * assignment to one list. */
  private[queries] val ivfOracleCentroids: IndexedSeq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for (c <- 0 until 4; t <- 0 until 64) yield {
      val hex = md.digest(s"ivfs2:$c:$t".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }).toIndexedSeq
  }

  /** The 2 coarse lists q_ivfpq_probe probes: nearest centroids to the
    * fixed integer query by Σ(q−C)², computed in EXACT Long arithmetic
    * (integer query, ±1 centroids), ties to the lower cid. The oracle
    * recomputes this from the same literals. */
  private[graft] val ivfOracleProbe: Seq[Int] =
    (0 until 4).map { c =>
      val d2 = (0 until 64).map { t =>
        val diff = adcQueryVec(t).toLong - ivfOracleCentroids(c * 64 + t).toLong
        diff * diff
      }.sum
      (d2, c)
    }.sorted.take(2).map(_._2)

  /** (word, lang) stopword dictionary for q_text_langid — small
    * public-list subsets, deliberately PAIRWISE DISJOINT across
    * languages (shared function words like fr/es 'de'/'la'/'en' are
    * non-discriminative and, with the left-join counting plan, a
    * multi-language word would multiply its token row and corrupt
    * n_tok). Literal in both engines. */
  private[queries] val langStopwords: Seq[(String, String)] = Seq(
    "a" -> "en", "the" -> "en", "of" -> "en", "to" -> "en",
    "and" -> "en", "in" -> "en", "is" -> "en", "it" -> "en",
    "le" -> "fr", "les" -> "fr", "des" -> "fr", "et" -> "fr",
    "une" -> "fr", "est" -> "fr", "dans" -> "fr", "du" -> "fr",
    "el" -> "es", "los" -> "es", "las" -> "es", "que" -> "es",
    "y" -> "es", "una" -> "es", "es" -> "es", "por" -> "es",
    "der" -> "de", "die" -> "de", "das" -> "de", "und" -> "de",
    "den" -> "de", "von" -> "de", "ist" -> "de", "nicht" -> "de")


  /** The survivor-id TABLE of the composed cleaning pipeline,
    * swap-published as parquet once per (session, dir) — the state
    * half of the clean-once/derive-many lifecycle. Build: run the
    * real `CorpusClean.clean`, write the survivor doc_ids to a temp
    * dir and atomically swap-publish them to `<memo>/ids` (the
    * `etl.Swap` lifecycle every persisted memo state uses), then
    * release every internal pipeline pin — so nothing the pipeline
    * cached outlives the build (CacheDisciplineSpec's contract), and
    * the ids never touch the driver: the KEEP set is O(corpus) — at
    * the 100 TB posture billions of longs — so a collect()+broadcast
    * here would OOM the driver (r15 verdict #1; the drop list is
    * bounded by |verified pairs| and goes through clean()'s size
    * guard — broadcast while it fits, published and joined
    * distributed above it — the keep set has no such bound). Returns
    * the published ids directory. */
  private[graft] def cleanedSurvivorIdsPath(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    memoPath("cleanids", s, d) { dir =>
      val docs = docProfile(s, d).select(col("doc_id"), col("text"))
      val cleaned = graft.ops.CorpusClean.clean(docs, col("text"), col("doc_id"))
      graft.etl.Swap.open(s, new org.apache.hadoop.fs.Path(dir, "ids").toString)
        .publish(cleaned.docs.select(col("doc_id")))()
      cleaned.release()
    }

  /** The CLEANED corpus (CorpusClean survivors, doc_id + text) as a
    * session memo — the clean-once/derive-many lifecycle (the ivfModel
    * precedent): a production pipeline cleans a corpus once and
    * derives many artifacts from the survivors (splits, packs, vocab),
    * so the derivation queries serve from this memo while
    * q_corpus_clean itself keeps paying the FULL pipeline per
    * invocation by design (it declares the cleaning). The memoized
    * frame is a fully DISTRIBUTED left-semi join of the corpus
    * against the swap-published survivor-id table
    * ([[cleanedSurvivorIdsPath]]) — cache-free lineage (one corpus
    * scan + one ids scan + a semi join, nothing the pipeline pinned
    * survives into it) with zero driver materialization; at test
    * scale AQE turns the semi join into a broadcast on its own, at
    * 100 TB it shuffles both sides on doc_id — either way no single
    * process ever holds the keep set. Dropped by [[releaseCaches]]
    * (which also deletes the published ids dir); cold-mode benchmarks
    * charge the clean to the query. */
  private[graft] def cleanedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    memoCache("cleancorpus", s, d) {
      val docs = docProfile(s, d).select(col("doc_id"), col("text"))
      val ids = s.read
        .parquet(new org.apache.hadoop.fs.Path(
          cleanedSurvivorIdsPath(s, d), "ids").toString)
        .withColumnRenamed("doc_id", "__keep_id")
      docs.join(ids, col("doc_id") === col("__keep_id"), "left_semi")
    }

  /** doc_id + 3-gram word shingles (docs with ≥3 tokens).
    *
    * The scan is repartitioned first: the testdata is one single-row-
    * group parquet file per table, i.e. ONE input split, and everything
    * before the first shuffle (split/explode/8×md5) would otherwise run
    * on a single core. At real scale the scan has thousands of splits
    * and the repartition is unnecessary — but it is exactly the "fan
    * out cheap rows before expensive per-row work" shape that also
    * fixes skewed-split layouts on a cluster.
    *
    * Cached (memoized): the split-labeled decontamination index and
    * the fingerprint query share this exact subtree.
    */
  private[queries] def shingles(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("shingles", s, d) {
      graft.ops.Dedup.shingles(docProfile(s, d), col("text"), col("doc_id"))
        .withColumnRenamed("id", "doc_id")
    }

  private val shinglesSql =
    """SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |       , unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      |  WHERE len(w) >= 3""".stripMargin

  /** Distinct (id, s, split) shingle rows labeled with the train/val/
    * test split — the decontamination working set. Cached (memoized):
    * without it every q_decontaminate invocation re-joins the split
    * labels onto the full shingle table and re-runs the big
    * train-side DISTINCT (the dominant cost — the exchange carries
    * every (doc, shingle) occurrence). With it, an invocation is a
    * filter over the cached distinct rows + the eval-side
    * shingle-level distinct + one join. At scale this is "materialize
    * the deduplicated shingle index once, sweep many benchmarks
    * against it" — the decontamination service shape. */
  private[queries] def labeledShingles(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("shsplit", s, d) {
      val ids = docProfile(s, d)
        .select(col("doc_id").as("id"),
          graft.ops.TrainPrep.splitLabel(col("text")).as("split"))
      shingles(s, d).withColumnRenamed("doc_id", "id")
        .join(ids, "id")
        .select(col("id"), col("s"), col("split"))
        .distinct()
    }

  /** Train-side distinct (id, s) rows, partitioned AND sorted on the
    * shingle key into the cache — the persisted decontamination index.
    * A separate cache entry from [[labeledShingles]] (not a filter of
    * it): the overlap join reads train and eval sides together, and a
    * self-join of ONE cached frame re-aliases one side's attributes,
    * which breaks its partitioning match and re-introduces an
    * exchange. Two distinct cache entries keep both sides
    * co-partitioned + pre-sorted, so the sort-merge overlap join runs
    * with no exchange and no train-side sort per sweep. */
  private[queries] def trainShingleIdx(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("shtrain", s, d) {
      labeledShingles(s, d).filter(col("split") === "train")
        .select(col("id"), col("s"))
        .repartition(s.sparkContext.defaultParallelism, col("s"))
        .sortWithinPartitions(col("s"))
    }

  /** Eval-side distinct shingle set, co-partitioned/sorted with
    * [[trainShingleIdx]] — benchmark-sized by the split contract. */
  private[queries] def evalShingleSet(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("sheval", s, d) {
      labeledShingles(s, d).filter(col("split") =!= "train")
        .select(col("s")).distinct()
        .repartition(s.sparkContext.defaultParallelism, col("s"))
        .sortWithinPartitions(col("s"))
    }

  /** Exact Jaccard verify results (id1, id2, inter, jac) over the LSH
    * candidate pairs — the library's one verify (`Dedup.jaccardPairs`:
    * row-local `array_distinct` shingle sets of the cached documents,
    * candidate docs semi-joined out, one `array_intersect` per pair).
    * Cached: the near-dup verify query filters it and the
    * sketch-accuracy query joins against it, and at scale it is the
    * materialized verified-pairs table every downstream consumer (dup
    * grouping, accuracy monitoring, survivorship) reads rather than
    * re-running the pair intersection. */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("jacpairs", s, d) {
      graft.ops.Dedup.jaccardPairs(
        graft.ops.Dedup.shingleSets(docProfile(s, d), col("text"), col("doc_id")),
        lshCandidatePairs(s, d).toDF("id1", "id2"))
    }

  /** The (doc_id, group_id) near-dup components — shared by
    * q_dup_groups (the grouping itself) and q_dup_keep_best (the
    * survivorship pick over it); one CC run per session. */
  private def dupGroups(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("dupcc", s, d) {
      val pairs = jaccardPairs(s, d).filter(col("jac") >= 0.5)
        .select(col("id1"), col("id2"))
      graft.ops.Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("group_id"))
    }

  /** Per-doc MinHash signature columns (id, m0..m7) — the row-local
    * `Dedup.minHashSignatures` kernel over the cached documents, no
    * exchange and no aggregate. Cached (memoized): the band table
    * derives from it, and the sketch-accuracy query (q_minhash_est)
    * reads the raw components. At scale this is the persisted
    * signature table every LSH pass re-reads. */
  private[queries] def mhSignatures(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("mhsig", s, d) {
      graft.ops.Dedup.minHashSignatures(docProfile(s, d), col("text"), col("doc_id"), 8)
    }

  /** Per-doc SimHash-32 signatures (id, simhash) — the row-local
    * `Dedup.simHashSignatures` kernel, cached: both the signature-dump
    * query (q_dedup_simhash) and the Hamming near-dup pair query
    * (q_dedup_simhash_ham) read it, and at scale it is the
    * materialized signature table the banded pair join runs against. */
  private[queries] def simSignatures(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("simsig", s, d) {
      // 32-bit pinned EXPLICITLY: the DuckDB oracle pins this exact
      // signature output. The library default is 64-bit since r9 —
      // the width the r8 sweep showed non-saturating.
      graft.ops.Dedup.simHashSignatures(
        docProfile(s, d), col("text"), col("doc_id"), 32)
    }

  /** LSH band table (doc_id, band, h) over the cached per-doc MinHash
    * signatures ([[mhSignatures]]), then `Dedup.lshBands` — the
    * library's one minima→band-hash construction, one explode emitting
    * both band rows. cache(): both sides of the LSH self-join read it,
    * and BOTH declared dedup queries (minhash-lsh candidates,
    * ngram-jaccard candidate generation) share the exact same plan, so
    * the CacheManager serves one materialization to all. At scale this
    * is "materialize signatures before LSH" — the standard shape. */
  private def bandTable(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("bands", s, d) {
      graft.ops.Dedup.lshBands(mhSignatures(s, d), 8, 2)
        .withColumnRenamed("id", "doc_id")
    }

  /** vec_id + double-cast vector + L2 norm — the shared base of the
    * three embedding queries (pair top-k, single-query ANN, consecutive
    * cosine). Cached (memoized): norms are computed once per vector,
    * and the cache's 32 partitions (from the repartition below) keep
    * the O(n²) pair loop parallel even though the source parquet is a
    * single split. Without this, each run of each embed query re-scans
    * and re-shuffles the table on BOTH sides of its self-join.
    */
  private[queries] def embedNorms(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("embednorm", s, d) {
      import graft.functions.GraftFunctions.dot
      t(s, d, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        // label rides along (4 bytes/row): q_embed_label_topk would
        // otherwise re-scan the parquet and broadcast-join the labels
        // onto this cache on every invocation
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .select(col("vec_id"), col("v"), col("nrm"), col("label"))
    }

  /** The raw documents table, repartitioned and cached — the shared
    * scan of every row-local text query (quality, langid, token count,
    * edit distance, rolling hash, PII scrub, repetition stats, top
    * bigram). The testdata parquet is ONE split, so an uncached scan
    * runs every per-row expression on a single core; the cache fans the
    * rows across all cores once and serves each query from memory
    * (r3 showed q_text_quality paying 0.6 s for what are row-local
    * expressions — the whole cost was the serial scan). At real scale
    * the scan has thousands of splits and this helper degrades to a
    * plain pass-through shape; released by [[releaseCaches]]. */
  private[queries] def docProfile(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("docprof", s, d) {
      t(s, d, "documents").repartition(s.sparkContext.defaultParallelism)
    }

  /** Cached, fanned-out events scan — same rationale as [[docProfile]]
    * (the testdata parquet is ONE split, so per-row work before the
    * first shuffle runs on a single core without it). Eleven declared
    * queries read events; the JSON-parsing ones (q_map_ops,
    * q_json_extract) are pure per-row work and gain the most. */
  private[queries] def eventProfile(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("eventprof", s, d) {
      t(s, d, "events").repartition(s.sparkContext.defaultParallelism)
    }

  /** Candidate pairs (doc1 < doc2) sharing ≥1 LSH bucket — the linear-
    * cost candidate generator both near-dup queries build on: the
    * library's band self-join (`Dedup.bandPairs`) over the cached band
    * table, distinct (the oracle's `SELECT DISTINCT`). The join
    * shuffles only (band, h) keys, never text. Cached (memoized): the
    * minhash query RETURNS it and the jaccard verify reads it —
    * without the cache the jaccard run re-executes the band self-join
    * + distinct every invocation. */
  private def lshCandidatePairs(s: org.apache.spark.sql.SparkSession, d: String) =
    memoCache("candpairs", s, d) {
      graft.ops.Dedup.bandPairs(bandTable(s, d), "doc_id")
        .toDF("doc1", "doc2")
        .distinct()
    }

  /** The q_ivfpq_probe index: (vec_id, codes) persisted
    * `partitionBy("cid")` under the fixed integer coarse centroids +
    * PQ codebook — so the declared probe's `cid IN (...)` filter is
    * real PARTITION PRUNING on disk (the 100 TB IVF-PQ read shape:
    * nprobe directories of 8-byte codes, never the corpus).
    * Deterministic end to end: integer codebooks, argmin margins
    * ~1e12. Same memo lifecycle as [[skipLayout]]. */
  private[graft] def ivfPqIndexPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("ivfpqindex", s, d) { dir =>
    ivfPqEncode(s, d)
      .write.partitionBy("cid").mode("overwrite").parquet(dir)
  }

  /** The declared IVF-PQ probe over a persisted (vec_id, cid, codes)
    * index: the cid filter on the 2 oracle lists (partition pruning on
    * the cid dirs), ADC against the fixed query LUT, exact top-10. */
  private def ivfPqProbe(index: org.apache.spark.sql.DataFrame) =
    index.filter(col("cid").isin(ivfOracleProbe.map(Int.box): _*))
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        graft.functions.GraftFunctions.pqAdc(
          col("codes"), adcOracleLut, 4).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(10)

  /** The (vec_id, cid, codes) encoding the IVF-PQ memos persist:
    * L2 argmin against the ±1 centroids, lower cid on ties — NOT
    * Similarity.assignClusters (cosine), because the oracle mirrors
    * the METRIC, not the expression: with Σg² = 64 constant this is
    * argmax ⟨v, g⟩, whose data-scale margins (see
    * [[ivfOracleCentroids]]) make the cross-engine argmin exact. */
  private def ivfPqEncode(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = graft.queries.t(s, d, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val cands = (0 until 4).map { c =>
      val cLit = array(
        ivfOracleCentroids.slice(c * 64, c * 64 + 64).map(lit): _*)
      struct((lit(64.0) - lit(2.0) * graft.functions.GraftFunctions.dot(
        col("v"), cLit)).as("dist"), lit(c).as("cid"))
    }
    e.select(col("vec_id"), least(cands: _*).getField("cid").as("cid"),
      graft.functions.GraftFunctions.pqEncode(
        col("v"), pqOracleCodebook, 4, 4).as("codes"))
  }

  /** The q_ivfpq_advance index: the SAME encoding as
    * [[ivfPqIndexPath]], but built INCREMENTALLY — the add-batch half
    * of the index lifecycle (faiss `add` / the registry-advance
    * pattern): batch 0 (even vec_ids) folded into an empty index,
    * batch 1 (odd vec_ids) folded on top, then batch 1 deliberately
    * REPLAYED — the applied-batch-marker no-op is on the declared
    * path. Index lives at `<memo>/index`, cid-partitioned like the
    * one-shot build, so the declared probe keeps real partition
    * pruning. */
  private[graft] def ivfPqAdvancePath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("ivfpqadv", s, d) { dir =>
    val enc = ivfPqEncode(s, d)
    val idx = s"$dir/index"
    val n0 = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 === 0), "adv", 0L)
    val n1 = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "adv", 1L)
    require(n0 > 0 && n1 > 0, s"ivfPqAdvance: fold sizes $n0, $n1")
    val replay = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "adv", 1L)
    require(replay == -1L,
      s"ivfPqAdvance: replay of batch 1 was not a marker no-op ($replay)")
  }

  /** The q_ivfpq_remove index: the full add→remove→add lifecycle
    * (faiss `add` + `remove_ids`) under ONE monotone marker sequence —
    * fold 0 adds the even vec_ids, fold 1 REMOVES the multiples of 4
    * (tombstones drop their code rows via a broadcast anti-join),
    * fold 2 adds the odd vec_ids, then the remove is deliberately
    * REPLAYED after the later add: the monotone marker (1 ≤ 2) must
    * make it a no-op — a re-applied delete would wrongly survive the
    * fold sequence and drop rows an oracle over the surviving set
    * still expects. Surviving set: vec_id % 4 ≠ 0 (odds were added
    * after the remove; evens lost their multiples of 4). Index at
    * `<memo>/index`, cid-partitioned like the add-only build. */
  private[graft] def ivfPqRemovePath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("ivfpqrm", s, d) { dir =>
    val enc = ivfPqEncode(s, d)
    val idx = s"$dir/index"
    val n0 = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 === 0), "lc", 0L)
    val n1 = graft.ops.Similarity.ivfPqRemove(s, idx,
      enc.filter(col("vec_id") % 4 === 0).select(col("vec_id")), "lc", 1L)
    val n2 = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "lc", 2L)
    require(n1 < n0 && n2 > 0,
      s"ivfPqRemove lifecycle: fold sizes $n0 -> $n1 -> $n2")
    val replay = graft.ops.Similarity.ivfPqRemove(s, idx,
      enc.filter(col("vec_id") % 4 === 0).select(col("vec_id")), "lc", 1L)
    require(replay == -1L,
      s"ivfPqRemove: replay of the remove was not a marker no-op ($replay)")
  }

  /** The q_ivfpq_leafwise index: the add→remove lifecycle of
    * [[ivfPqRemovePath]] with a CRASH on the declared path: the odds'
    * fold first runs with an injected mid-swap-loop crash
    * (failAfterSwaps = 1), leaving some lists new, some old and a
    * complete `_tmp_leaf`; the redelivery resumes the interrupted
    * loop and re-folds (the per-cid upsert makes that a content
    * no-op for the already-swapped lists). The remove then drops the
    * multiples of 4 with tombstones CARRYING their cid (the
    * production reverse-lookup shape — no locate scan), and is
    * deliberately replayed (must be a marker no-op). The oracle is
    * the q_ivfpq_remove recompute verbatim (surviving set:
    * vec_id % 4 ≠ 0). */
  private[graft] def ivfPqLeafwisePath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("ivfpqleaf", s, d) { dir =>
    val enc = ivfPqEncode(s, d)
    val idx = s"$dir/index"
    val n0 = graft.ops.Similarity.ivfPqAdvance(s, idx,
      enc.filter(col("vec_id") % 2 === 0), "lw", 0L)
    require(n0 > 0, s"ivfPqAdvance: empty fold 0 ($n0)")
    val odds = enc.filter(col("vec_id") % 2 =!= 0)
    // injected crash after one leaf swap — fires whenever the batch
    // touches ≥ 2 lists (every shipped SF); a single-list batch just
    // completes, and the getOrElse below keeps the build total
    val attempt =
      try Some(graft.ops.Similarity.ivfPqAdvance(s, idx, odds,
        "lw", 1L, failAfterSwaps = 1))
      catch { case _: IllegalStateException => None }
    val n1 = attempt.getOrElse(
      graft.ops.Similarity.ivfPqAdvance(s, idx, odds, "lw", 1L))
    require(n1 > 0, s"ivfPqAdvance: resume fold returned $n1")
    val tomb = enc.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("cid"))
    val n2 = graft.ops.Similarity.ivfPqRemove(s, idx, tomb, "lw", 2L)
    require(n2 >= 0, s"ivfPqRemove returned $n2")
    val replay = graft.ops.Similarity.ivfPqRemove(s, idx, tomb, "lw", 2L)
    require(replay == -1L,
      s"ivfPqRemove: replay was not a marker no-op ($replay)")
  }

  /** The q_jsonl_quarantine layout: the documents corpus exported as
    * JSONL — the de-facto corpus interchange format — with a
    * deterministic corruption injection. Clean docs (doc_id % 97 ≠ 0)
    * go through `CorpusIO.writeJsonl` as ZSTD shards (the
    * `ZstdJniCodec` registration path under the oracle); every
    * doc_id % 97 == 0 line is serialized, loses its final byte
    * (always the closing brace — invalid JSON by construction), and
    * is appended to the SAME directory as gzip text shards — the
    * mixed-codec layout `readJsonl` documents (codec resolved per
    * file by extension, one pass). */
  private[graft] def jsonlLayoutPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("jsonl", s, d) { dir =>
    val docs = graft.queries.t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val shards = s"$dir/shards"
    graft.sources.CorpusIO.writeJsonl(
      docs.filter(col("doc_id") % 97 =!= 0), shards, 4)
    docs.filter(col("doc_id") % 97 === 0)
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("l"))
      .select(expr("substring(l, 1, length(l) - 1)").as("value"))
      .coalesce(1).write.mode("append")
      .option("compression", "gzip").text(shards)
  }

  /** Run a stream memo's sink to completion under
    * Trigger.AvailableNow, then stop it. The lifecycle claim is
    * "micro-batchES": the source must have sliced the feed into ≥ 3
    * batches, not swallowed it in one. */
  private def runAvailableNow(sink: org.apache.spark.sql.streaming
      .DataStreamWriter[org.apache.spark.sql.Row], name: String): Unit = {
    val q = sink.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      require(q.lastProgress != null && q.lastProgress.batchId >= 2,
        s"$name: expected >= 3 micro-batches, last batchId = " +
          s"${Option(q.lastProgress).map(_.batchId)}")
    } finally q.stop()
  }

  /** The q_stream_jsonl_publish state: the SAME corrupted JSONL
    * corpus as [[jsonlLayoutPath]] (doc_id % 97 truncation), but
    * delivered as three plain-text feed files (doc_id % 3 slices,
    * each carrying its own corrupted lines) through a REAL
    * file-source structured stream (`CorpusIO.readJsonlStream`,
    * Trigger.AvailableNow, one file per micro-batch) into
    * `StreamingPipeline.jsonlIntakeSink` — each micro-batch an
    * `advanceIntake` fold (clean = keyed upsert, quarantine =
    * distinct set-fold, both swap-published). The FIFTH streaming
    * lifecycle row, composing the two marker-free idempotence
    * classes; after the stream completes, the ENTIRE feed is
    * deliberately re-folded once through the same advance call — the
    * strongest replay (every batch at once) must be a content no-op
    * on both sides. State at `<dir>/pub/{clean,quarantine}`. */
  private[graft] def streamJsonlPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("streamjsonl", s, d) { dir =>
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = graft.queries.t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
    val feed = s"$dir/feed"
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i)
        .select(col("doc_id"), line.as("l"))
        .select(when(col("doc_id") % 97 === 0,
            expr("substring(l, 1, length(l) - 1)"))
          .otherwise(col("l")).as("value"))
        .coalesce(1).write.mode("append").text(feed)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    runAvailableNow(graft.streaming.StreamingPipeline.jsonlIntakeSink(
        graft.sources.CorpusIO.readJsonlStream(s, feed, schema,
          maxFilesPerTrigger = 1),
        schema, "doc_id", s"$dir/pub", s"$dir/ckpt"), "streamJsonlPath")
    // the declared replay: re-fold the WHOLE feed through the batch
    // reader — upsert + set-fold must both be content no-ops
    val (cleanAll, quarAll) =
      graft.sources.CorpusIO.readJsonl(s, feed, schema)
    graft.sources.CorpusIO.advanceIntake(s, s"$dir/pub", "doc_id",
      cleanAll, quarAll): Unit
  }

  /** The q_bucket_join tables: lineitem/orders projections written
    * BUCKETED on their join key (8 buckets each, sorted, external
    * location under the memo's temp dir) so the declared join plans
    * with ZERO Exchange — the write-time shuffle is amortized over
    * every subsequent join, the 100 TB recurring-join technique
    * (`Layout.writeBucketed`; LayoutSpec gates the generic plan shape,
    * this memo puts the DECLARED query on it). Table names are keyed
    * by an md5 of the FULL data-dir path (r14 ADVICE: a hashCode
    * collision between two dirs in one session would let the second
    * build overwrite the first's catalog entries while memoPath still
    * served the first's path — md5 makes the name collision-resistant)
    * so a fresh build after releaseCaches OVERWRITES
    * the same catalog entries instead of accumulating. Bucketing is
    * IO/plan-only — the oracle is the PLAIN join. */
  private[graft] def bucketJoinTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val suf = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val liT = s"graft_bj_li_$suf"
    val oT = s"graft_bj_o_$suf"
    memoPath("bucketjoin", s, d) { dir =>
      graft.queries.t(s, d, "lineitem").select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/li").mode("overwrite")
        .format("parquet").saveAsTable(liT)
      graft.queries.t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/o").mode("overwrite")
        .format("parquet").saveAsTable(oT)
    }
    (liT, oT)
  }

  /** The q_compact_scan layout: a lineitem projection deliberately
    * written as 24 small files, then rewritten by `Layout.compact` and
    * swap-published IN PLACE — the declared query scans the compacted
    * directory, so the whole compact → publish lifecycle (including
    * `Swap.open`'s crash-window recovery running first) sits under
    * the oracle: compaction is IO-only, any row lost or duplicated by
    * the rewrite/swap is a hash mismatch against the PLAIN scan.
    * LayoutSpec asserts the file count actually fell on this exact
    * path. */
  private[graft] def compactLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("compactlayout", s, d) { dir =>
    graft.queries.t(s, d, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .repartition(24).write.mode("overwrite").parquet(dir)
    val (before, after) = graft.etl.Layout.compact(s, dir)
    require(after < before,
      s"compactLayout: compaction was a no-op ($before -> $after files)")
    // drop any cached listing of the pre-compaction files
    s.catalog.refreshByPath(dir)
  }

  /** The q_scd2_advance state: a versioned "current order" dimension
    * built by THREE `Scd2.advance` calls — each a real bootstrap-or-
    * read → merge → write-temp → atomic swap-publish of on-disk
    * parquet state (with `Swap.open`'s recovery running first, so the crash
    * window is on the declared path) — over orders updates split at
    * 1995-01-01 / 1997-01-01. The declared query reads the PERSISTED
    * chain back and serves a point-in-time `asOf`; the in-session
    * q_scd2_asof declares the merge ALGEBRA, this declares the
    * on-disk state LIFECYCLE. Returns the memo dir; state lives at
    * `<dir>/dim`. */
  private[graft] def scd2AdvancePath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("scd2adv", s, d) { dir =>
    val o = graft.queries.t(s, d, "orders")
    val tsT = o.schema("o_orderdate").dataType
    val upd = o.select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"), col("o_orderdate").as("ts"))
    val c1 = lit("1995-01-01 00:00:00").cast(tsT)
    val c2 = lit("1997-01-01 00:00:00").cast(tsT)
    val attrs = Seq("o_orderkey", "o_totalprice")
    val state = s"$dir/dim"
    graft.etl.Scd2.advance(s, state,
      upd.filter(col("ts") < c1), "o_custkey", "ts", attrs)
    graft.etl.Scd2.advance(s, state,
      upd.filter(col("ts") >= c1 && col("ts") < c2), "o_custkey", "ts", attrs)
    val open = graft.etl.Scd2.advance(s, state,
      upd.filter(col("ts") >= c2), "o_custkey", "ts", attrs)
    require(open > 0, "scd2AdvancePath: empty dimension after 3 batches")
  }

  /** The q_sketch_rollup_band state: per-priority mergeable sketch
    * state (exact count + HLL distinct + KLL quantile + MinHash sig)
    * folded from THREE order deltas through `SketchRollup.advance` —
    * each a real read → merge → swap-publish of on-disk parquet state
    * — the approximate twin of q_scd2_advance's lifecycle. State at
    * `<dir>/state`. */
  private[graft] def sketchRollupPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("sketchroll", s, d) { dir =>
    val o = graft.queries.t(s, d, "orders")
    val cols = graft.etl.SketchRollup.Columns(
      distinctCol = "o_custkey", quantileCol = "o_totalprice",
      textCol = "o_orderstatus")
    val state = s"$dir/state"
    (0 until 3).foreach { i =>
      graft.etl.SketchRollup.advance(s, state,
        o.filter(col("o_orderkey") % 3 === i), Seq("o_orderpriority"), cols)
    }
  }

  /** The q_stream_cdc_publish state: the SAME synthetic I/U/D change
    * feed as q_cdc_apply, delivered through a REAL file-source
    * structured stream — three parquet feed files read one per
    * micro-batch (maxFilesPerTrigger=1, Trigger.AvailableNow, a real
    * start → awaitTermination lifecycle) into
    * `StreamingPipeline.cdcApplySink`, whose every micro-batch is a
    * `ChangeApply.advance` read → merge → atomic swap-publish of
    * on-disk parquet state. The declared query reads the PUBLISHED
    * snapshot back (r14 verdict #4: the streaming sinks were
    * spec-matched to their batch twins, but the
    * streamed-then-published state itself had never been hashed).
    * q_cdc_apply declares the merge ALGEBRA; this declares the
    * STREAMING delivery + publish lifecycle against the identical
    * oracle — ChangeApply.merge is batch-slicing invariant and
    * version-guarded, so any slicing of the feed converges to the
    * latest-wins fold the oracle computes. State at `<dir>/snap`. */
  private[graft] def streamCdcPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("streamcdc", s, d) { dir =>
    val o = graft.queries.t(s, d, "orders")
    val ch = o.select(col("o_custkey"),
      col("o_totalprice").as("cur_price"),
      col("o_orderstatus").as("cur_status"),
      when(col("o_orderkey") % 10 === 0, lit("D"))
        .when(col("o_orderkey") % 10 < 5, lit("U"))
        .otherwise(lit("I")).as("op"),
      col("o_orderkey").as("ts"))
    // three one-file appends → three source files → three micro-batches
    val feed = s"$dir/feed"
    (0 until 3).foreach { i =>
      ch.filter(col("ts") % 3 === i).coalesce(1)
        .write.mode("append").parquet(feed)
    }
    runAvailableNow(graft.streaming.StreamingPipeline.cdcApplySink(
        s.readStream.schema(ch.schema)
          .option("maxFilesPerTrigger", "1").parquet(feed),
        "o_custkey", Seq("cur_price", "cur_status"),
        s"$dir/snap", s"$dir/ckpt"), "streamCdcPath")
  }

  /** The q_stream_agg_publish state: the SAME three lineitem deltas
    * as q_incremental_rollup (l_orderkey % 3), delivered through a
    * REAL file-source structured stream (one parquet feed file per
    * micro-batch, Trigger.AvailableNow) into
    * `StreamingPipeline.incrementalAggSink`, whose every micro-batch
    * is an `IncrementalAgg.advanceBatch` read → merge → atomic
    * swap-publish of on-disk moment state WITH its applied-batch
    * marker (moment state is additive, so at-least-once redelivery
    * must be a marker no-op — that contract is exactly what this
    * lifecycle exercises on the declared path). q_incremental_rollup
    * declares the fold ALGEBRA over in-session frames; this declares
    * the streaming delivery + publish lifecycle against the identical
    * oracle — moment-state merge is commutative and associative, so
    * ANY slicing or ordering of the feed converges to the one-shot
    * aggregate. State at `<dir>/state`. */
  private[graft] def streamAggPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("streamagg", s, d) { dir =>
    val li = graft.queries.t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_orderkey"))
    val feed = s"$dir/feed"
    (0 until 3).foreach { i =>
      li.filter(col("l_orderkey") % 3 === i).coalesce(1)
        .write.mode("append").parquet(feed)
    }
    runAvailableNow(graft.streaming.StreamingPipeline.incrementalAggSink(
        s.readStream.schema(li.schema)
          .option("maxFilesPerTrigger", "1").parquet(feed),
        Seq("l_returnflag", "l_linestatus"), "l_quantity",
        s"$dir/state", s"$dir/ckpt"), "streamAggPath")
  }

  /** The q_stream_scd2_publish state: the SAME orders update feed as
    * q_scd2_advance (periods split at 1995-01-01 / 1997-01-01),
    * delivered period-per-micro-batch through a REAL file-source
    * structured stream into `StreamingPipeline.scd2Sink`, each batch
    * a `Scd2.advance` read → merge → swap-publish of the on-disk
    * versioned dimension. Unlike the CDC and moment-state folds,
    * SCD2's contract is FORWARD-ONLY (late updates drop as stale,
    * never rewrite closed history), so batch ORDER is semantics —
    * the feed files' modification times are pinned to strictly
    * increasing values, which is the exact signal the file source
    * orders batches by (oldest-first); a mis-ordered delivery would
    * hash-mismatch the period-chained oracle, so the ordering
    * contract itself sits under the oracle. State at `<dir>/dim`. */
  private[graft] def streamScd2Path(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("streamscd2", s, d) { dir =>
    val o = graft.queries.t(s, d, "orders")
    val tsT = o.schema("o_orderdate").dataType
    val upd = o.select(col("o_custkey"), col("o_orderkey"),
      col("o_totalprice"), col("o_orderdate").as("ts"))
    val c1 = lit("1995-01-01 00:00:00").cast(tsT)
    val c2 = lit("1997-01-01 00:00:00").cast(tsT)
    val feed = s"$dir/feed"
    val slices = Seq(
      upd.filter(col("ts") < c1),
      upd.filter(col("ts") >= c1 && col("ts") < c2),
      upd.filter(col("ts") >= c2))
    // stamp each slice's data files with a deterministic, strictly
    // increasing mtime AFTER writing it — the local-FS write itself
    // can land two slices inside one mtime granule, and the file
    // source breaks such ties arbitrarily
    val stamped = scala.collection.mutable.Set[String]()
    val base = 1700000000000L
    slices.zipWithIndex.foreach { case (sl, i) =>
      sl.coalesce(1).write.mode("append").parquet(feed)
      val fresh = new java.io.File(feed).listFiles().toSeq
        .filter(f => f.getName.startsWith("part-") && !stamped(f.getName))
      require(fresh.nonEmpty, s"streamScd2Path: slice $i wrote no file")
      fresh.foreach { f =>
        require(f.setLastModified(base + i * 60000L),
          s"streamScd2Path: cannot stamp mtime on ${f.getName}")
        stamped += f.getName
      }
    }
    runAvailableNow(graft.streaming.StreamingPipeline.scd2Sink(
        s.readStream.schema(upd.schema)
          .option("maxFilesPerTrigger", "1").parquet(feed),
        "o_custkey", "ts", Seq("o_orderkey", "o_totalprice"),
        s"$dir/dim", s"$dir/ckpt"), "streamScd2Path")
  }

  /** The q_stream_band_publish state: the documents corpus delivered
    * as three file-source micro-batches (doc_id % 3) through
    * `StreamingPipeline.bandRegistrySink`, whose every micro-batch is
    * a `Dedup.advanceBandRegistry` set-fold → swap-publish of the
    * persisted LSH band registry — the MARKER-FREE idempotence class
    * (distinct-union set fold: replay-at-will is a no-op by
    * construction, unlike the markered additive folds). After the
    * stream completes, batch 0 is deliberately RE-FOLDED once more
    * through the same advance call, putting the replay no-op itself on
    * the declared path: a fold that weren't idempotent would change
    * the registry rows and hash-mismatch. State at `<dir>/reg`. */
  private[graft] def streamBandPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("streamband", s, d) { dir =>
    val docs = graft.queries.t(s, d, "documents")
      .select(col("doc_id"), col("text"))
    val feed = s"$dir/feed"
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(feed)
    }
    runAvailableNow(graft.streaming.StreamingPipeline.bandRegistrySink(
        s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(feed),
        "text", "doc_id", s"$dir/reg", s"$dir/ckpt"), "streamBandPath")
    // the declared replay: re-fold batch 0 — a set-fold no-op
    graft.ops.Dedup.advanceBandRegistry(s, s"$dir/reg",
      docs.filter(col("doc_id") % 3 === 0), col("text"), col("doc_id"))
  }

  /** The q_compact_partitioned layout: a month-partitioned lineitem
    * projection whose leaves are deliberately multi-file (6-way
    * round-robin before partitionBy), then `Layout.compactPartitioned`
    * rewrites EACH LEAF independently — the bounded-rewrite-unit form
    * of compaction an incremental pipeline runs on just-touched
    * partitions. IO-only like [[compactLayout]]; LayoutSpec asserts
    * leaves genuinely lost files on this exact path. */
  private[graft] def compactPartitionedLayout(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    memoPath("compactpart", s, d) { dir =>
      graft.queries.t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          month(col("l_shipdate")).as("mth"))
        .repartition(6)
        .write.partitionBy("mth").mode("overwrite").parquet(dir)
      val report = graft.etl.Layout.compactPartitioned(s, dir)
      require(report.nonEmpty && report.values.exists(v => v._2 < v._1),
        s"compactPartitionedLayout: no leaf compacted ($report)")
      s.catalog.refreshByPath(dir)
    }

  /** The skipping-demo LAYOUT: a range-sharded copy of lineitem plus
    * its min/max file manifest, written once per (session, dir) to a fresh temp directory and
    * pruned-scanned by q_skipping_prune on every invocation — the
    * build-index-once / probe-many lifecycle `etl.Skipping` exists
    * for (same precedent as the ivfModel memo). The layout is fully
    * deterministic: shard = l_orderkey div W (a pure row function —
    * no range-partitioner SAMPLING, whose boundaries vary with rdd
    * ids and would wobble the byte pins across sweeps), and the
    * testdata's single input split writes exactly one file per shard
    * directory. Dropped by [[releaseCaches]] so cold-mode benchmarks
    * charge the layout + manifest build to the query; the release
    * also DELETES the abandoned dir (r14 verdict #7 — a gate run's
    * release→rebuild cycles must leave O(#memos) dirs on disk, not
    * O(#memos × #rebuilds)). */
  private[graft] def skipLayout(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("skiplayout", s, d) { dir =>
    val li = graft.queries.t(s, d, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val maxKey = li.agg(max(col("l_orderkey"))).head.getLong(0)
    val w = math.max(1L, (maxKey + 16) / 16) // ceil((max+1)/16): 16 shards
    graft.etl.Layout.writePartitioned(
      li.withColumn("shard", (col("l_orderkey") / lit(w)).cast("long")),
      dir, "shard")
    graft.etl.Skipping.writeManifest(s, dir, Seq("l_orderkey", "l_quantity"))
  }

  /** The trained IVF coarse quantizer, memoized: an IVF index is
    * trained once and probed many times, so the declared q_ivf_recall
    * serves from this memo the way the dedup queries serve from the
    * shingle memo. Returns (model, cached (id, v, cid) corpus
    * assignment). Deterministic (md5-seeded init, decimal-mean Lloyd),
    * so memoization cannot change results. Dropped by [[releaseCaches]]
    * — cold-mode benchmarks charge the training to the query. */
  private[queries] def ivfModel(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(Int, Seq[Double])], org.apache.spark.sql.DataFrame) = {
    val corpus = embedNorms(s, d).filter(col("vec_id") >= 10)
    val model = memo("ivfmodel", MemoKind.Model, s, d)(ModelMemo(
      graft.ops.Similarity.ivfCentroids(
        corpus, col("vec_id"), col("v"), k = 16, iters = 2))).centroids
    val assigned = memoCache("ivfassign", s, d) {
      graft.ops.Similarity.assignClusters(
        corpus.select(col("vec_id").as("id"), col("v")), model)
    }
    (model, assigned)
  }

  /** The q_media_meta MEDIA layout: one opaque-binary media row per
    * document — REAL WAV payloads (JDK `javax.sound` encoder) for
    * even doc_ids, REAL PNG payloads (JDK ImageIO encoder) for odd —
    * with every acoustic/pixel parameter a pure function of doc_id,
    * written once per (session, dir) as (media_id, kind, bytes,
    * source) parquet. Built via mapPartitions so payload synthesis
    * (like real codec work) runs executor-side and never transits the
    * driver; same memo lifecycle as [[skipLayout]] (released + dir
    * deleted by [[releaseCaches]]). */
  private[graft] def mediaLayoutPath(s: org.apache.spark.sql.SparkSession,
      d: String): String = memoPath("medialayout", s, d) { dir =>
    import s.implicits._
    // repartition BEFORE the synth: the testdata table is one input
    // split, and without the fan-out both the payload encode here and
    // every subsequent decode (the layout inherits the file count)
    // would run on a single core — the same "fan out cheap rows
    // before expensive per-row work" shape the shingles memo uses
    graft.queries.t(s, d, "documents").select(col("doc_id")).as[Long]
      .repartition(s.sessionState.conf.numShufflePartitions)
      .mapPartitions { it =>
        it.map { id =>
          if (id % 2 == 0)
            graft.ops.Multimodal.MediaRow(id, "audio",
              graft.ops.Multimodal.wavBytes(
                durationMs = (50 + (id % 20) * 10).toInt,
                sampleRate = (8000 + (id % 8) * 1000).toInt, seed = id),
              "synth")
          else
            graft.ops.Multimodal.MediaRow(id, "image",
              graft.ops.Multimodal.pngBytes(
                width = (8 + id % 32).toInt,
                height = (8 + (id * 7) % 32).toInt, seed = id),
              "synth")
        }
      }.toDF().write.mode("overwrite").parquet(dir)
  }

  val queries: Map[String, QFn] = Map(
    // Multimodal metadata decode under the oracle (r15 verdict Next
    // #5 — the last north-star family with no declared row): read the
    // opaque-binary media layout back and run the REAL decoders —
    // javax.sound header parse for WAV (sample rate, channels,
    // duration from frame length; O(header), sample data never
    // decoded) and ImageIO for PNG (true pixel dimensions) — via the
    // per-partition-batched `Multimodal.decode` kernel. Every decoded
    // field is pinned against a DuckDB twin that derives the expected
    // value ARITHMETICALLY from doc_id (the layout's generating
    // parameters), plus the canonical-WAV byte-length identity
    // (44-byte header + 2 bytes/frame — MultimodalSpec pins the
    // encoder emits exactly that): a parser reading any wrong offset,
    // or an encoder writing a non-canonical layout, hash-mismatches.
    // Scale shape: payloads stay executor-side end-to-end
    // (mapPartitions over the binary column — the one legitimate
    // non-Catalyst hot path, codec work); metadata lands in plain
    // columns so downstream filters prune before any decode.
    "q_media_meta" -> { (s, d) =>
      import s.implicits._
      val media = s.read.parquet(mediaLayoutPath(s, d))
        .as[graft.ops.Multimodal.MediaRow]
      graft.ops.Multimodal.decode(media).toDF()
        .select(col("media_id"), col("kind"),
          when(col("kind") === "audio", col("n_bytes")).as("n_bytes_audio"),
          col("width"), col("height"), col("duration_ms"),
          col("sample_rate"), col("channels"))
        // decode-once AND a distributed total order (r16 verdict #1):
        // a range sort directly over the decode child would re-EXECUTE
        // it inside the RangePartitioner sampling job (no prefix-rule
        // elision for object operators — every payload decoded twice
        // per run), while the previous repartition(1) gather funneled
        // |corpus| metadata rows through ONE task at scale. So
        // materialize the ~50-byte/row metadata projection once
        // (localCheckpoint truncates the lineage to the stored
        // blocks; the ContextCleaner frees them when the plan is
        // GC'd) and range-sort THAT: the sampling job re-reads the
        // checkpointed rows — never the codec chain — and the sort
        // stays a parallel range-partitioned exchange.
        .localCheckpoint(true)
        .orderBy(col("media_id"))
    },

    // MinHash (8 perms via seeded md5, lexicographic min) + LSH
    // (2 bands × 4 rows → candidate threshold ≈ 0.84 Jaccard).
    "q_dedup_minhash_lsh" -> { (s, d) =>
      lshCandidatePairs(s, d).orderBy(col("doc1"), col("doc2"))
    },

    // Repeated-substring boilerplate spans as a DECLARED query: every
    // maximal run of 8-token windows whose window hash occurs in ≥3
    // distinct documents (the exact-substring dedup family member —
    // SubstrDedup scaladoc). The Spark side keys everything on the
    // O(n) codegen dual-modulus Rabin-Karp window key
    // (graft_token_window_dual_hash — a single 1e9+7 fold measurably
    // collided at sf0.1's ~6·10⁵ windows; the dual key's ~2⁻⁶⁰
    // per-pair odds make collisions negligible below ~10⁸ windows);
    // the oracle groups by the WINDOW TEXT itself — hash-gated
    // equality at all three SFs is the empirical no-collision
    // certificate. Scale: explode linear in tokens,
    // spread filter is a hash-keyed partial+final agg, islands one
    // window over (doc, pos) — text never shuffles past the explode.
    "q_boilerplate_spans" -> { (s, d) =>
      graft.ops.SubstrDedup.repeatedSpans(
          docProfile(s, d), col("text"), col("doc_id"), w = 8, minDocs = 3)
        .select(col("id").as("doc_id"), col("start_tok"), col("end_tok"),
          col("n_windows"))
        .orderBy(col("doc_id"), col("start_tok"))
    },

    // Boilerplate STRIP under the oracle — the scrub step the span
    // detection above feeds (r13: detect AND strip both declared):
    // rewrite every document with its repeated spans' tokens removed,
    // emit (token count, md5) of the cleaned text — content-exact
    // without shipping full strings through the hash compare twice.
    // Docs with no spans pass their ORIGINAL string through
    // (scrubSpans contract); the oracle's split→string_agg(' ')
    // round-trip is exact for the single-space token contract, so the
    // two paths agree byte-for-byte. Entirely-repeated docs become ''
    // on both sides (coalesce over the empty kept-token set).
    "q_boilerplate_strip" -> { (s, d) =>
      graft.ops.SubstrDedup.stripRepeatedSpans(
          docProfile(s, d).select(col("doc_id"), col("text")),
          col("text"), col("doc_id"), w = 8, minDocs = 3)
        .select(col("doc_id"),
          when(length(col("text_clean")) === 0, lit(0L))
            .otherwise(size(split(col("text_clean"), " ")).cast("long"))
            .as("n_tok_clean"),
          md5(col("text_clean").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // SimHash-32: per-token md5-derived 32-bit hash; weighted bit
    // majority over the document; signature emitted as a 32-char
    // '0'/'1' string (integer arithmetic throughout).
    "q_dedup_simhash" -> { (s, d) =>
      simSignatures(s, d)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // SimHash near-dup PAIRS via band blocking: 4 bands of 8 bits,
    // pairs examined only on an exact band match (equi-join on the
    // band substring — linear, never all-pairs), Hamming ≤ 3 verified
    // by bit_count(xor) over the parsed 32-bit signatures. For
    // maxHamming < nBands the blocking is EXACT by pigeonhole, so the
    // oracle can verify against the same band-join formulation.
    "q_dedup_simhash_ham" -> { (s, d) =>
      graft.ops.Dedup.simHashNearDupPairs(simSignatures(s, d),
          maxHamming = 3, nBands = 4, nBits = 32)
        .select(col("id1").as("doc1"), col("id2").as("doc2"), col("ham"))
        .orderBy(col("doc1"), col("doc2"))
    },

    // MinHash sketch accuracy on LSH candidate pairs: component-
    // agreement estimate (n_agree/8 — the unbiased MinHash Jaccard
    // estimator) against the EXACT shingle-set Jaccard, with the
    // absolute error. The pair space is the LSH candidate set (linear
    // contract, shared cache). EVERY join side here is pair- or
    // candidate-bounded — the same bound that already justifies
    // broadcasting `cands` — so the whole chain runs as broadcast
    // hash joins streaming the cached signature table twice, and the
    // terminal sort is the plan's ONLY shuffle (r17, executing the
    // r16 stage-floor item: the old shuffle_hash formulation paid 5
    // exchanges to move pair-bounded frames; this one plans exactly
    // one — counted stages fall less, 24 -> 22, because broadcast
    // builds re-list cached lineage as SKIPPED stages, which launch
    // no tasks). The pairs×signature intermediate the second probe
    // broadcasts is |pairs| × 8 md5 strings — the cands broadcast's
    // own size class. est and jac are exact rational doubles
    // (eighths / integer division), so the comparison is
    // engine-portable.
    "q_minhash_est" -> { (s, d) =>
      val cands = lshCandidatePairs(s, d).toDF("id1", "id2")
      val sigs = mhSignatures(s, d)
      val agree = (0 until 8)
        .map(k => when(col(s"am$k") === col(s"b.m$k"), 1).otherwise(0))
        .reduce(_ + _)
      val withA = broadcast(cands)
        .join(sigs.as("a"), col("id1") === col("a.id"))
        .select(col("id1") +: col("id2") +:
          (0 until 8).map(k => col(s"a.m$k").as(s"am$k")): _*)
      val est = broadcast(withA)
        .join(sigs.as("b"), col("id2") === col("b.id"))
        .select(col("id1"), col("id2"), agree.cast("long").as("n_agree"))
      // est STREAMS into the last join (broadcasting it would re-run
      // the whole upstream chain inside one more nested broadcast
      // build); the cached verified-pairs table is the 1-stage build
      est.join(broadcast(jaccardPairs(s, d)), Seq("id1", "id2"))
        .select(col("id1").as("doc1"), col("id2").as("doc2"),
          col("n_agree"), (col("n_agree") / lit(8.0)).as("est"), col("jac"),
          round(abs(col("n_agree") / lit(8.0) - col("jac")), 4).as("err"))
        .orderBy(col("doc1"), col("doc2"))
    },

    // Exact n-gram Jaccard verify restricted to LSH candidate pairs —
    // the 100 TB contract: candidate generation is linear (MinHash
    // sketch + keys-only band join, shared with q_dedup_minhash_lsh via
    // the band-table cache), and the pairwise verify cost follows
    // |candidates|, not |corpus|²: the row-local shingle sets are
    // semi-joined down to candidate documents and each pair is scored
    // by one array_intersect in its own row, so no O(corpus) broadcast
    // or all-pairs shuffle exists anywhere in the plan.
    // inter/union are exact ints → the division is bit-identical.
    "q_dedup_ngram_jaccard" -> { (s, d) =>
      // the verified-pairs cache: built once per session by the one
      // verify over the candidate pairs; this query filters it,
      // q_minhash_est joins it
      jaccardPairs(s, d)
        .filter(col("jac") >= 0.5)
        .select(col("id1").as("doc1"), col("id2").as("doc2"),
          col("inter"), col("jac"))
        .orderBy(col("doc1"), col("doc2"))
    },

    // Duplicate GROUPS: connected components over the verified near-dup
    // pair graph — the step that turns pairwise matches into dedup
    // decisions (keep one doc per component). Min-label iteration on
    // the candidate-bounded pair set; the oracle replays the same graph
    // with a recursive transitive-closure CTE, so equivalence is exact
    // (both converge to the component-minimum id). Scale: the input is
    // the LSH-verified pair list — |pairs| rows, never |corpus|² — and
    // each iteration is one keyed join + min-aggregate; rounds ≤ graph
    // diameter (near-dup components are shallow by construction).
    // The converged component labeling is memoized: the min-label
    // iteration runs DRIVER-side rounds (a localCheckpoint action per
    // round) at plan-BUILD time, so without the memo every invocation
    // re-pays the whole iteration even though its input (the cached
    // jaccard pair list) is itself memoized. The labeling is the
    // deterministic fixpoint of that input — same artifact lifecycle
    // as the shingle store; releaseCaches drops it (cold mode
    // re-iterates).
    "q_dup_groups" -> { (s, d) =>
      dupGroups(s, d).orderBy(col("doc_id"))
    },

    // Survivorship — the step AFTER grouping (r18): pick each
    // near-dup group's canonical representative. Policy: keep the
    // LONGEST member (n_chars — the most complete version of a
    // near-dup cluster, the standard keep-best heuristic), min
    // doc_id on ties. One window pass over the grouped docs (a set
    // ≪ corpus — only docs IN dup groups carry labels), one exchange
    // on group_id; all-integer decision path, so the pick is exact
    // cross-engine. Composes the declared chain: shingles → LSH
    // candidates → verified pairs → connected components → keep-best.
    "q_dup_keep_best" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = graft.queries.t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val byGroup = Window.partitionBy(col("group_id"))
      dupGroups(s, d).join(docs, "doc_id")
        .withColumn("rk", row_number().over(
          byGroup.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byGroup))
        .filter(col("rk") === 1)
        .select(col("group_id"), col("doc_id").as("kept_id"),
          col("n_members"), col("n_chars").as("kept_chars"))
        .orderBy(col("group_id"))
    },

    // Embedding-cosine near-dup: top-20 most-similar vector pairs,
    // brute force (correctness baseline for the LSH ANN in graft.ops).
    // Norms are computed ONCE per vector below the pair join (O(n), not
    // O(n²)); the per-pair work is a single codegen'd 64-FLOP dot loop
    // (graft.functions.DotProduct) instead of three interpreted HOF
    // chains — same IEEE summation order, bit-identical output.
    "q_dedup_embed_topk" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      // Both sides of the pair join read the shared embedNorms cache:
      // norms once per vector (O(n), below the join), and the cache's
      // 32 partitions keep the O(n²) pair loop parallel.
      val e = embedNorms(s, d).select("vec_id", "v", "nrm")
      val a = e.toDF("id1", "v1", "n1")
      val b = e.toDF("id2", "v2", "n2")
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(expr("graft_dot(v1, v2)") / (col("n1") * col("n2")), 4).as("cos"))
        .orderBy(col("cos").desc, col("id1"), col("id2"))
        .limit(20)
    },

    // Group-bounded similarity: top-3 most-similar vector pairs WITHIN
    // each label — the "near-dups inside a class" audit. The pair join
    // is an equi-join on the label key, so the pair space is
    // Σ|label group|², never |corpus|² (the partition-pruned dual of
    // the LSH bucket join; at scale the group key is the natural
    // partitioning). Reads the shared norms cache; per-label ranking
    // is one window on the exact rounded cosine with id tiebreaks.
    "q_embed_label_topk" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      // label is carried in the embedNorms cache — no per-invocation
      // re-scan/join to attach it
      val e = embedNorms(s, d)
      val a = e.toDF("id1", "v1", "n1", "lbl")
      val b = e.toDF("id2", "v2", "n2", "lbl2")
      // shuffle_hash (not broadcast): the pre-join exchanges carry the
      // 2×|corpus| input VECTORS hashed on the label key, and the rank
      // window below — keyed on the same lbl column, not a cast of it,
      // so Catalyst can prove the partitioning matches — reuses that
      // layout. A broadcast pair join here would generate Σ|group|²
      // pair rows and then pay a full exchange OF THE PAIRS to feed
      // the window: the shuffled quantity would grow quadratically
      // while this plan's exchanges stay linear in the corpus.
      // Top-3 per label via TopKPairAgg, not a rank window (the r10
      // re-plan, same move as q_window_rank_topk's): the window had
      // to SORT every generated pair of every label — Σ|group|² rows
      // through a WindowExec — to keep 3 of them; the mergeable
      // k-heap aggregate keeps O(k) state per label, combines
      // map-side, and (the join output being already partitioned on
      // lbl) adds no exchange. Heap order (score DESC, id1, id2) is
      // exactly the window's rank order, so position = rk and the
      // oracle (the rank window itself, in SQL) is unchanged.
      a.join(b.hint("shuffle_hash"),
          col("lbl") === col("lbl2") && col("id1") < col("id2"))
        .select(col("lbl"), col("id1"), col("id2"),
          round(expr("graft_dot(v1, v2)") / (col("n1") * col("n2")), 4).as("cos"))
        .groupBy(col("lbl"))
        .agg(graft.functions.TopKPairAgg.topKPairs(
          col("cos"), col("id1"), col("id2"), 3).as("tk"))
        .select(col("lbl").cast("long").as("label"), posexplode(col("tk")))
        .select(col("label"), col("col.id1").as("id1"),
          col("col.id2").as("id2"), col("col.score").as("cos"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy(col("label"), col("rk"))
    },

    // Embedding near-dup, LINEAR declared path: sign-LSH buckets
    // (8 md5-derived hyperplanes, micro-unit-quantized integer dot so
    // the bucket id is bit-identical on any engine — see
    // Similarity.lshBucketQuantized), then exact cosine top-20 WITHIN
    // buckets only. The join is an equi-join on the bucket key: at
    // 100 TB the pair space is Σ|bucket|² instead of |corpus|² — this,
    // not q_dedup_embed_topk's brute force, is the production
    // embedding-dedup shape; the brute-force query remains as the
    // recall/correctness baseline.
    "q_dedup_embed_lsh" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      // 8-bit pinned EXPLICITLY (oracle parity); the library default
      // is 16-bit since r9 (8-bit buckets saturate at x32 — SCALE.md)
      val e = embedNorms(s, d).withColumn("bucket",
        graft.ops.Similarity.lshBucketQuantized(col("v"), nBits = 8))
      val a = e.select(col("bucket"), col("vec_id").as("id1"),
        col("v").as("v1"), col("nrm").as("n1"))
      val b = e.select(col("bucket"), col("vec_id").as("id2"),
        col("v").as("v2"), col("nrm").as("n2"))
      a.join(b, "bucket")
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("bucket"),
          round(expr("graft_dot(v1, v2)") / (col("n1") * col("n2")), 4).as("cos"))
        .orderBy(col("cos").desc, col("id1"), col("id2"))
        .limit(20)
    },

    // ANN top-10 for one query vector (vec_id = 0), brute-force cosine
    // baseline (broadcast query vector + codegen'd dot kernel; the
    // LSH-bucketed scale path lives in graft.ops.Similarity).
    "q_ann_topk" -> { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = embedNorms(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn")))
      e.crossJoin(q)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(expr("graft_dot(v, qv)") / (col("nrm") * col("qn")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    },

    // IVF-probe ANN as a DECLARED property query (§7.3 rule 8): the
    // exhaustive probe (nprobe = nClusters) scans every inverted
    // list, so its per-query top-10 id list IS the exact brute-force
    // answer — rank order round(cos,4) DESC, id ASC, the total order
    // whose cross-engine parity q_ann_topk already hash-proves — and
    // the oracle recomputes it with a plain window, never seeing the
    // model. The partial probe's recall against it DOES depend on the
    // trained quantizer (deterministic: md5-seeded init, decimal-mean
    // Lloyd — but engine-specific), so it is compared as a disclosed
    // BATCH band: total recall@10 across the 10-query batch >= 30 of
    // 100 at nprobe=4 of 16. Calibration (this data is uniform-random,
    // the worst case for clustering): random-probe expectation is 25;
    // measured totals are 51/55/56 at sf0.001/0.01/0.1 with per-query
    // minima as low as 3 — a batch band is ~√10 lower-variance than a
    // per-query one, which is why the band is on the sum. The exact
    // per-query values stay out of the hash.
    "q_ivf_recall" -> { (s, d) =>
      import graft.ops.Similarity
      import org.apache.spark.sql.expressions.Window
      val e = embedNorms(s, d)
      val (model, assigned) = ivfModel(s, d)
      Similarity.ivfRecallAssigned(assigned, model,
          e.filter(col("vec_id") < 10), col("vec_id"), col("v"),
          k = 10, nprobePartial = 4)
        // 10-row frame: the unpartitioned window is a 10-row sum.
        // Exploded to (qid, rk, id) scalar rows — no declared query
        // emits ARRAY finals (driver-hash hazard, same family as
        // §7.3 rule 11's wide decimals).
        .select(col("qid"), col("full_ids"),
          (sum(col("recall_partial")).over(Window.partitionBy()) >= 30)
            .as("recall_band"))
        .select(col("qid"), posexplode(col("full_ids")).as(Seq("pos", "id")),
          col("recall_band"))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rk"),
          col("id"), col("recall_band"))
        .orderBy(col("qid"), col("rk"))
    },

    // Product-quantization encode under the oracle: the PqEncode
    // kernel's nearest-centroid codes over a FIXED md5-derived
    // INTEGER codebook ([[pqOracleCodebook]]) are independently
    // recomputable in SQL — the same constants embed as literals in
    // both engines, and with ~8M-magnitude integer centroids against
    // O(1) vector coordinates every argmin margin is ~1e13, dwarfing
    // any summation-order ulp, so the integer codes hash-match
    // exactly. Raw vectors (no normalization): the kernel is
    // metric-agnostic squared-L2, and skipping the norm keeps the
    // declared plan free of lambda-referenced derived columns. Codes
    // are BINARY; the declared output extracts each byte to INT
    // (hex → conv) because the driver comparator is scalar-proven.
    // Row-local throughout; the only exchange is the output sort.
    "q_pq_encode" -> { (s, d) =>
      val v = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val codes = graft.functions.GraftFunctions.pqEncode(
        col("v"), pqOracleCodebook, 4, 4)
      v.select((col("vec_id") +: (0 until 4).map(j =>
          conv(hex(substring(codes, j + 1, 1)), 16, 10)
            .cast("int").as(s"code$j"))): _*)
        .orderBy(col("vec_id"))
    },

    // Asymmetric-distance (ADC) ranking under the oracle — the READ
    // path every IVF-PQ probe serves (q_pq_encode covers only the
    // write path): encode each corpus vector to 4 one-byte codes
    // against the fixed integer codebook, rank by the PqAdcDot kernel
    // (m lookups/row — the O(m)-vs-O(dims) PQ payoff) against the
    // fixed integer query's LUT, take the exact top-20 with vec_id
    // tie-break. Every LUT entry and ADC sum is an exact integer
    // (< 2^53), so DuckDB recomputing codes + LUT + Σ_j lut[j*kc +
    // code_j] from the same literals hash-matches bit-for-bit.
    // Row-local kernel chain; the ranking is orderBy().limit() →
    // TakeOrderedAndProject, never a full sort.
    "q_pq_adc" -> { (s, d) =>
      val v = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val codes = graft.functions.GraftFunctions.pqEncode(
        col("v"), pqOracleCodebook, 4, 4)
      v.select(col("vec_id"),
          graft.functions.GraftFunctions.pqAdc(codes, adcOracleLut, 4).as("adc"))
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(20)
    },

    // IVF-PQ probe END TO END under the oracle (q_pq_adc declares the
    // ADC kernel alone; this declares the serving path it powers):
    // coarse-assign every vector to one of 4 fixed integer centroids,
    // persist (vec_id, codes) partitionBy(cid), probe the 2 lists
    // nearest the fixed integer query (exact-Long distance, embedded
    // as the SAME literal recipe in the oracle, which recomputes the
    // probe itself), ADC-rank ONLY those lists' codes, exact top-10.
    // The cid filter is real PARTITION PRUNING on the persisted index
    // (spec-asserted on the executed plan) — at 100 TB the probe
    // reads nprobe directories of 8-byte codes, never the corpus.
    // DuckDB independently recomputes assignment, probe, codes, LUT
    // and the ADC sums from the same literals — all exact integers.
    "q_ivfpq_probe" -> { (s, d) =>
      ivfPqProbe(s.read.parquet(ivfPqIndexPath(s, d)))
    },

    // Index MAINTENANCE under the oracle (r16 — the add-batch half of
    // the IVF-PQ lifecycle, the faiss `add` path): the same probe as
    // q_ivfpq_probe, but over an index built by TWO
    // `Similarity.ivfPqAdvance` folds (even vec_ids, then odd) plus a
    // deliberate REPLAY of the second batch on the declared path —
    // the applied-batch marker must make the redelivery a no-op.
    // Oracle = the q_ivfpq_probe recompute verbatim: the folds
    // converge to the one-shot build. Same real partition pruning
    // (the leaf swaps keep the cid dirs; gated in PlanSpec).
    "q_ivfpq_advance" -> { (s, d) =>
      ivfPqProbe(s.read.parquet(s"${ivfPqAdvancePath(s, d)}/index"))
    },

    // The REMOVE half of the index lifecycle under the oracle (r17 —
    // faiss `remove_ids`, completing the I/D symmetry q_cdc_apply has
    // for tables): the same probe over an index that lived through
    // add(evens) → remove(multiples of 4) → add(odds), plus a
    // deliberate replay of the REMOVE after the later add — the
    // monotone applied-batch marker must no-op it (a re-applied
    // delete would drop rows the oracle still expects). DuckDB
    // recomputes the probe over the SURVIVING set (vec_id % 4 ≠ 0)
    // from the same integer literals; any code row the tombstone
    // anti-join wrongly kept, dropped or duplicated hash-mismatches.
    // Same real cid partition pruning (dirs survive each fold).
    "q_ivfpq_remove" -> { (s, d) =>
      ivfPqProbe(s.read.parquet(s"${ivfPqRemovePath(s, d)}/index"))
    },

    // JSONL corpus interchange under the oracle (r18 — the
    // dead-letter contract on the declared path): read the memoized
    // mixed-codec layout (zstd shards via CorpusIO.writeJsonl + gzip
    // shards of deliberately-truncated lines) with readJsonl's
    // PERMISSIVE + corrupt-column split. Clean rows must round-trip
    // CONTENT-EXACT (md5 of the parsed text vs the oracle's md5 of
    // the original — any escape/codec asymmetry hash-mismatches);
    // corrupted lines must surface in the quarantine frame with
    // their doc_id recoverable from the raw line (the field survives
    // the truncation), never as silently-nulled "clean" rows — the
    // exact corruption class the module exists to prevent.
    "q_jsonl_quarantine" -> { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val dir = jsonlLayoutPath(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("text", StringType)))
      val (clean, bad) =
        graft.sources.CorpusIO.readJsonl(s, s"$dir/shards", schema)
      clean.select(col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("text_md5"))
        .unionByName(bad.select(
          regexp_extract(col("raw_line"), "\"doc_id\":(\\d+)", 1)
            .cast("long").as("doc_id"),
          lit("__quarantined").as("lang"),
          lit(null).cast("string").as("text_md5")))
        .orderBy(col("doc_id"))
    },

    // The index folds' CRASH recovery under the oracle (r18): the
    // same probe over an index maintained by `Similarity.ivfPqAdvance`
    // / `ivfPqRemove` with an injected mid-swap-loop CRASH and its
    // resume-recovery on the declared path, plus the replayed remove
    // (marker no-op) of tombstones carrying their cid. The oracle is
    // the q_ivfpq_remove recompute verbatim (surviving set:
    // vec_id % 4 ≠ 0) — a list the resume loop lost, a row the per-cid
    // upsert duplicated, or a tombstone the cid-carrying remove missed
    // all shift the ADC top-k and hash-mismatch. Same real cid
    // partition pruning (the leaf swaps preserve the dir layout).
    "q_ivfpq_leafwise" -> { (s, d) =>
      ivfPqProbe(s.read.parquet(s"${ivfPqLeafwisePath(s, d)}/index"))
    },

    // Int8 scalar quantization of the embedding column — the ANN
    // memory-footprint step (64 doubles → 64 bytes + a scale). Codes
    // are round(v/scale) with per-vector max-abs scale: plain IEEE
    // divisions + half-away-from-zero rounds, no libm — so code sums,
    // saturation counts, and the L1 reconstruction error cross-check
    // exactly against the oracle recomputing the same scheme.
    // Row-local throughout; the only exchange is the output sort.
    "q_embed_quantize" -> { (s, d) =>
      import graft.ops.Similarity
      val e = embedNorms(s, d)
        .withColumn("scale", Similarity.int8Scale(col("v")))
        .withColumn("q", Similarity.int8Quantize(col("v"), col("scale")))
      e.select(col("vec_id"),
          round(col("scale"), 6).as("scale_r"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"),
          round(aggregate(
            zip_with(col("v"), col("q"), (x, qq) => abs(x - qq.cast("double") * col("scale"))),
            lit(0.0d), (acc, x) => acc + x), 6).as("l1_err_r"))
        .orderBy(col("vec_id"))
    },

    // Multi-language stopword language ID (r12 verdict #6: the old
    // form was a two-stopword en-vs-und heuristic): score every doc
    // against FOUR public stopword subsets (en/fr/es/de — kept
    // pairwise DISJOINT, so the left join below matches each token at
    // most once and n_tok stays exact), predict the argmax language
    // when its hit ratio clears 1/20, lexicographic-smallest language
    // on hit ties, 'und' otherwise. All-integer decision path: the
    // threshold is best·20 ≥ n_tok (never a double division), so
    // every output column hash-matches bit-for-bit.
    // Scale shape: this is the #languages-scalable form — one token
    // explode, one BROADCAST join against the (word → lang)
    // dictionary, one per-doc conditional aggregate (map-side
    // combined). A kernel-per-language would re-scan each doc's text
    // per language; the dictionary join costs one pass no matter how
    // many languages the table grows.
    "q_text_langid" -> { (s, d) =>
      graft.ops.TextAnalysis.langIdMulti(
          docProfile(s, d), Seq("doc_id", "lang"), col("text"),
          langStopwords, denom = 20)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("hits_en"), col("hits_fr"), col("hits_es"), col("hits_de"),
          col("pred_lang"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: token count, type-token ratio, average word
    // length, pass/fail flag — all from exact integer counts.
    "q_text_quality" -> { (s, d) =>
      // token count, distinct count and char length from ONE kernel
      // pass (was: two splits + array_distinct + length per doc)
      val st = graft.functions.GraftFunctions.tokenStats(col("text"))
      docProfile(s, d)
        .select(col("doc_id"),
          st.getField("n_tokens").as("n_tok"),
          st.getField("n_distinct").as("n_uniq"),
          st.getField("char_len").as("len"))
        .withColumn("ttr", col("n_uniq") / col("n_tok"))
        .withColumn("avg_word_len",
          (col("len") - (col("n_tok") - 1)) / col("n_tok"))
        .withColumn("quality_ok", col("n_tok") >= 30 && col("ttr") >= 0.3)
        .select(col("doc_id"), col("n_tok"), col("n_uniq"), col("ttr"),
          col("avg_word_len"), col("quality_ok"))
        .orderBy(col("doc_id"))
    },

    // Composite cleaning gate — the CorpusClean pipeline's decision
    // logic as ONE declared aggregate: per-gate failure counts
    // (length, repetition, type-token ratio, exact-dup) and the
    // survivor count. Row-local gates cost zero shuffle; the only
    // exchange is the md5-group window (exact-dup keep-first) + the
    // final 1-row aggregate. Gates mirror q_text_quality /
    // q_repeat_tokens thresholds, so the families stay consistent.
    "q_quality_gates" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // token/distinct counts from the one definition
      // (CorpusStats.repetitionStats) so the families cannot diverge —
      // but the duplicate fraction is recomputed UNROUNDED here:
      // repetitionStats rounds to 4 dp for display, and a rounded
      // value would flip the <= 0.5 gate at the boundary relative to
      // the oracle's exact arithmetic
      val (nTok, nDis, _) = graft.ops.CorpusStats.repetitionStats(col("text"))
      val ttr = nDis / nTok
      val dupFrac = lit(1.0) - nDis.cast("double") / nTok.cast("double")
      val keepFirst = min(col("doc_id"))
        .over(Window.partitionBy(md5(col("text").cast("binary")))) === col("doc_id")
      docProfile(s, d)
        .select(col("doc_id"),
          (nTok >= 30).as("len_ok"),
          (dupFrac <= 0.5).as("rep_ok"),
          (ttr >= 0.3).as("ttr_ok"),
          keepFirst.as("uniq_ok"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!col("len_ok"), 1).otherwise(0)).cast("long").as("fail_len"),
          sum(when(!col("rep_ok"), 1).otherwise(0)).cast("long").as("fail_rep"),
          sum(when(!col("ttr_ok"), 1).otherwise(0)).cast("long").as("fail_ttr"),
          sum(when(!col("uniq_ok"), 1).otherwise(0)).cast("long").as("fail_dup"),
          sum(when(col("len_ok") && col("rep_ok") && col("ttr_ok") &&
            col("uniq_ok"), 1).otherwise(0)).cast("long").as("n_keep"))
    },

    // Document fingerprinting: full-text md5 + winnowing-style minimum
    // shingle hash (a 1-permutation MinHash).
    "q_text_fingerprint" -> { (s, d) =>
      val fpMin = shingles(s, d)
        .groupBy(col("doc_id"))
        .agg(min(md5(col("s").cast("binary"))).as("fp_min"))
      docProfile(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp_full"))
        .join(fpMin, Seq("doc_id"), "left")
        .orderBy(col("doc_id"))
    },

    // Rolling polynomial hash (Rabin-Karp shape) over the 40-char
    // prefix: h = (h*31 + code) mod 1e9+7 — pure integer fold,
    // identical on both engines. Uses the native codegen kernel
    // (graft.functions.RollingHash) instead of the triple-HOF
    // aggregate/transform/split chain, which is CodegenFallback and
    // interprets two lambdas per character (bitwise-equal per
    // RollingHashSpec; oracle unchanged).
    "q_text_rolling_hash" -> { (s, d) =>
      docProfile(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.RollingHash
            .rollingHash(substring(col("text"), 1, 40)).as("rhash"))
        .orderBy(col("doc_id"))
    },

    // Pairwise edit distance between consecutive docs' 60-char
    // prefixes (classic Levenshtein DP — exact integers, identical on
    // both engines; the building block for fuzzy near-dup verify).
    "q_text_edit_distance" -> { (s, d) =>
      // both sides of the consecutive-pair self-join read the shared
      // docProfile cache — r3's regression was this query scanning the
      // single-split parquet twice, serially
      val doc = docProfile(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("head"))
      val a = doc.toDF("doc1", "h1")
      val b = doc.toDF("doc2", "h2")
      a.join(b, col("doc2") === col("doc1") + 1)
        .select(col("doc1"), col("doc2"),
          levenshtein(col("h1"), col("h2")).cast("long").as("dist"))
        .orderBy(col("doc1"))
    },

    // Token counting: whitespace tokens, characters, and a BPE-style
    // estimate (≈ 4 chars/token, integer arithmetic).
    "q_text_token_count" -> { (s, d) =>
      docProfile(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
        .withColumn("est_bpe_tokens", expr("(n_chars + 3) DIV 4"))
        .orderBy(col("doc_id"))
    },

    // PII scrubbing: redact URLs/emails, count redactions. The corpus
    // is synthetic (zero PII), so the query plants one deterministic
    // email + URL per doc IN the query — visible on both engines — and
    // verifies the scrubbed text by hash; the patterns use the
    // Java-regex/RE2-identical subset (TextAnalysis.EmailRe/UrlRe).
    "q_scrub_pii" -> { (s, d) =>
      import graft.ops.TextAnalysis
      docProfile(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail.example.org or https://docs.example.org/d/"),
            col("doc_id"), lit("?ref=x")).as("raw"))
        .select(col("doc_id"),
          TextAnalysis.countMatches(col("raw"), TextAnalysis.UrlRe).as("n_urls"),
          TextAnalysis.countMatches(col("raw"), TextAnalysis.EmailRe).as("n_emails"),
          md5(TextAnalysis.scrubPii(col("raw"))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },
  )

  /** The shared q_ivfpq_probe / q_ivfpq_advance / q_ivfpq_remove
    * oracle: full recompute of the coarse assignment, probe-list
    * selection and per-subspace ADC from the fixed integer literals
    * (see [[ivfOracleCentroids]] / [[pqOracleCodebook]]).
    * `corpusWhere` restricts the embedding corpus — q_ivfpq_remove
    * passes the lifecycle's surviving-set predicate, so the oracle
    * recomputes over exactly the rows the add→remove→add folds must
    * converge to. */
  /** The shared near-dup CC oracle CTE chain (shingles → minhash →
    * bands → candidates → exact-Jaccard pairs → symmetric edges →
    * recursive reach → min-label groups, ending in a `grp(doc_id,
    * group_id)` CTE) — q_dup_groups selects it verbatim,
    * q_dup_keep_best layers the survivorship window on top. */
  private def dupGroupsOracleCte: String =
    s"""WITH RECURSIVE sh AS (
         |  $shinglesSql
         |), mh AS (
         |  SELECT doc_id,
         |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
         |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
         |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
         |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
         |  UNION ALL
         |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
         |), shd AS (
         |  SELECT DISTINCT * FROM sh
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc1, c.doc2, count(*) AS inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.doc1
         |  JOIN shd b ON b.doc_id = c.doc2 AND b.s = a.s
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT doc1, doc2
         |  FROM inter
         |  JOIN sizes s1 ON s1.doc_id = doc1
         |  JOIN sizes s2 ON s2.doc_id = doc2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5
         |), edges AS (
         |  SELECT doc1 AS src, doc2 AS dst FROM pairs
         |  UNION
         |  SELECT doc2, doc1 FROM pairs
         |), reach AS (
         |  SELECT src AS id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
         |), grp AS (
         |  SELECT id AS doc_id, min(lbl) AS group_id
         |  FROM reach GROUP BY id
         |)""".stripMargin

  private def ivfPqProbeOracle(corpusWhere: String = ""): String = {
      val cb = pqOracleCodebook.map(_.toLong).mkString("[", ", ", "]")
      val qv = adcQueryVec.map(_.toLong).mkString("[", ", ", "]")
      val g = ivfOracleCentroids.map(_.toLong).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$corpusWhere),
         |cb AS (SELECT CAST($cb AS BIGINT[]) AS f, CAST($qv AS BIGINT[]) AS q,
         |              CAST($g AS BIGINT[]) AS g),
         |a AS (
         |  SELECT e.vec_id, e.v, c.c,
         |    list_sum(list_transform(range(1, 65), t ->
         |      (v[t] - g[c.c*64 + t]) * (v[t] - g[c.c*64 + t]))) AS d2
         |  FROM e, cb, range(0, 4) AS c(c)
         |),
         |asg AS (SELECT vec_id, v, c AS cid FROM (
         |    SELECT vec_id, v, c,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
         |    FROM a) WHERE rk = 1),
         |pr AS (SELECT c FROM (
         |    SELECT c.c AS c,
         |      list_sum(list_transform(range(1, 65), t ->
         |        (q[t] - g[c.c*64 + t]) * (q[t] - g[c.c*64 + t]))) AS dq
         |    FROM cb, range(0, 4) AS c(c))
         |  ORDER BY dq, c LIMIT 2),
         |p AS (SELECT vec_id, v, cid FROM asg WHERE cid IN (SELECT c FROM pr)),
         |dd AS (
         |  SELECT p.vec_id, p.cid, j.j, c.c,
         |    list_sum(list_transform(range(1, 17), t ->
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]) *
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]))) AS d2,
         |    list_sum(list_transform(range(1, 17), t ->
         |      q[j.j*16 + t] * f[(j.j*4 + c.c)*16 + t])) AS dotqc
         |  FROM p, cb, range(0, 4) AS j(j), range(0, 4) AS c(c)
         |),
         |r AS (SELECT vec_id, cid, dotqc,
         |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
         |      FROM dd)
         |SELECT vec_id, CAST(cid AS INT) AS cid, CAST(sum(dotqc) AS DOUBLE) AS adc
         |FROM r WHERE rk = 1
         |GROUP BY vec_id, cid
         |ORDER BY adc DESC, vec_id LIMIT 10""".stripMargin
  }

  val sql: Map[String, String] = Map(
    // The media layout's generating parameters, re-derived
    // arithmetically: kind/rate/duration/width/height are pure
    // functions of doc_id, and the audio byte count is the canonical
    // WAV identity 44 + 2 * frames (frames = rate * durMs / 1000,
    // exact — rate is a multiple of 1000). The Spark side must
    // ENCODE (JDK WAV/PNG writers) and then PARSE (javax.sound /
    // ImageIO headers) its way back to exactly these numbers.
    "q_media_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END AS kind,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 44 + 2 * (((8000 + (doc_id % 8) * 1000)
        |                    * (50 + (doc_id % 20) * 10)) // 1000)
        |    ELSE NULL END AS n_bytes_audio,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |    ELSE 8 + doc_id % 32 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
        |    ELSE 8 + (doc_id * 7) % 32 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 50 + (doc_id % 20) * 10 ELSE 0 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 8000 + (doc_id % 8) * 1000 ELSE 0 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS channels
        |FROM documents ORDER BY media_id""".stripMargin,

    // Groups by window TEXT where Spark groups by the Rabin-Karp
    // window hash — equal outputs absent a hash collision among this
    // corpus's windows (see the query comment).
    "q_boilerplate_spans" ->
      """WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents),
        |win AS (
        |  SELECT id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(toks[i:i+7], ' ') AS wtext
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)
        |),
        |spread AS (
        |  SELECT wtext FROM (SELECT DISTINCT wtext, id FROM win)
        |  GROUP BY wtext HAVING count(*) >= 3
        |),
        |rep AS (SELECT id, pos FROM win JOIN spread USING (wtext)),
        |brk AS (
        |  SELECT id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM rep
        |),
        |isl AS (
        |  SELECT id, pos,
        |    sum(brk) OVER (PARTITION BY id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk
        |)
        |SELECT id AS doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
        |       CAST(max(pos) + 8 AS BIGINT) AS end_tok,
        |       CAST(count(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY id, island
        |ORDER BY doc_id, start_tok""".stripMargin,

    "q_boilerplate_strip" ->
      """WITH d AS (SELECT doc_id AS id, text, string_split(text, ' ') AS toks FROM documents),
        |win AS (
        |  SELECT id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(toks[i:i+7], ' ') AS wtext
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)
        |),
        |spread AS (
        |  SELECT wtext FROM (SELECT DISTINCT wtext, id FROM win)
        |  GROUP BY wtext HAVING count(*) >= 3
        |),
        |rep AS (SELECT id, pos FROM win JOIN spread USING (wtext)),
        |brk AS (
        |  SELECT id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM rep
        |),
        |isl AS (
        |  SELECT id, pos,
        |    sum(brk) OVER (PARTITION BY id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk
        |),
        |spans AS (SELECT id, min(pos) AS s, max(pos) + 8 AS e
        |          FROM isl GROUP BY id, island),
        |tok AS (SELECT id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS t
        |        FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |kept AS (
        |  SELECT tok.id, tok.pos, tok.t FROM tok
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.id = tok.id
        |                      AND tok.pos >= sp.s AND tok.pos < sp.e)),
        |cleanagg AS (SELECT id, string_agg(t, ' ' ORDER BY pos) AS tc
        |             FROM kept GROUP BY id),
        |clean AS (SELECT d.id, coalesce(c.tc, '') AS text_clean
        |          FROM d LEFT JOIN cleanagg c USING (id))
        |SELECT id AS doc_id,
        |  CAST(CASE WHEN length(text_clean) = 0 THEN 0
        |            ELSE len(string_split(text_clean, ' ')) END AS BIGINT)
        |    AS n_tok_clean,
        |  md5(text_clean) AS clean_md5
        |FROM clean ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH sh AS (
         |  $shinglesSql
         |), mh AS (
         |  SELECT doc_id,
         |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
         |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
         |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
         |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
         |  UNION ALL
         |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
         |)
         |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
         |ORDER BY doc1, doc2""".stripMargin,

    "q_dedup_simhash" ->
      """WITH tokc AS (
        |  SELECT doc_id, tok, count(*) AS cnt,
        |         substr(md5(tok), 1, 8) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0
        |  GROUP BY doc_id, tok
        |), bits AS (
        |  SELECT doc_id, cnt, h, u.bitpos,
        |         strpos('0123456789abcdef', substr(h, CAST(bitpos // 4 AS INT) + 1, 1)) - 1 AS nib,
        |         CASE bitpos % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS p
        |  FROM tokc, unnest(range(0, 32)) AS u(bitpos)
        |), sums AS (
        |  SELECT doc_id, bitpos, sum(cnt * (2 * ((nib // p) % 2) - 1)) AS sbit
        |  FROM bits GROUP BY doc_id, bitpos
        |)
        |SELECT doc_id,
        |       string_agg(CASE WHEN sbit > 0 THEN '1' ELSE '0' END, '' ORDER BY bitpos) AS simhash
        |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Band-blocked Hamming pairs: same 4×8-bit blocking as the Spark
    // plan (exact for ham ≤ 3 by pigeonhole); the distance is DuckDB
    // BIT-string arithmetic over the same '0'/'1' signatures.
    "q_dedup_simhash_ham" ->
      """WITH tokc AS (
        |  SELECT doc_id, tok, count(*) AS cnt,
        |         substr(md5(tok), 1, 8) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0
        |  GROUP BY doc_id, tok
        |), bits AS (
        |  SELECT doc_id, cnt, h, u.bitpos,
        |         strpos('0123456789abcdef', substr(h, CAST(bitpos // 4 AS INT) + 1, 1)) - 1 AS nib,
        |         CASE bitpos % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS p
        |  FROM tokc, unnest(range(0, 32)) AS u(bitpos)
        |), sums AS (
        |  SELECT doc_id, bitpos, sum(cnt * (2 * ((nib // p) % 2) - 1)) AS sbit
        |  FROM bits GROUP BY doc_id, bitpos
        |), sigs AS (
        |  SELECT doc_id,
        |         string_agg(CASE WHEN sbit > 0 THEN '1' ELSE '0' END, '' ORDER BY bitpos) AS simhash
        |  FROM sums GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, simhash, u.b,
        |         substr(simhash, 1 + 8 * CAST(u.b AS INT), 8) AS bh
        |  FROM sigs, unnest(range(0, 4)) AS u(b)
        |)
        |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
        |       CAST(bit_count(xor(a.simhash::BIT, b.simhash::BIT)) AS BIGINT) AS ham
        |FROM bands a
        |JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash::BIT, b.simhash::BIT)) <= 3
        |ORDER BY doc1, doc2""".stripMargin,

    // Sketch accuracy: the same minhash/band/candidate CTE chain, the
    // component-agreement estimate joined against the exact Jaccard.
    "q_minhash_est" ->
      s"""WITH sh AS (
         |  $shinglesSql
         |), mh AS (
         |  SELECT doc_id,
         |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
         |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
         |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
         |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
         |  UNION ALL
         |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
         |), agree AS (
         |  SELECT c.doc1, c.doc2,
         |    CAST(CAST(a.m0 = b.m0 AS INT) + CAST(a.m1 = b.m1 AS INT) +
         |         CAST(a.m2 = b.m2 AS INT) + CAST(a.m3 = b.m3 AS INT) +
         |         CAST(a.m4 = b.m4 AS INT) + CAST(a.m5 = b.m5 AS INT) +
         |         CAST(a.m6 = b.m6 AS INT) + CAST(a.m7 = b.m7 AS INT) AS BIGINT) AS n_agree
         |  FROM cand c
         |  JOIN mh a ON a.doc_id = c.doc1
         |  JOIN mh b ON b.doc_id = c.doc2
         |), shd AS (
         |  SELECT DISTINCT * FROM sh
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc1, c.doc2, count(*) AS inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.doc1
         |  JOIN shd b ON b.doc_id = c.doc2 AND b.s = a.s
         |  GROUP BY 1, 2
         |)
         |SELECT g.doc1, g.doc2, g.n_agree,
         |       g.n_agree / 8.0 AS est,
         |       i.inter * 1.0 / (s1.n + s2.n - i.inter) AS jac,
         |       round(abs(g.n_agree / 8.0 - i.inter * 1.0 / (s1.n + s2.n - i.inter)), 4) AS err
         |FROM agree g
         |JOIN inter i ON i.doc1 = g.doc1 AND i.doc2 = g.doc2
         |JOIN sizes s1 ON s1.doc_id = g.doc1
         |JOIN sizes s2 ON s2.doc_id = g.doc2
         |ORDER BY 1, 2""".stripMargin,

    // Same candidate restriction as the Spark plan: the minhash-LSH
    // CTE chain generates candidate pairs; Jaccard is verified only on
    // those (semantics = "verified near-dups among LSH candidates").
    "q_dedup_ngram_jaccard" ->
      s"""WITH sh AS (
         |  $shinglesSql
         |), mh AS (
         |  SELECT doc_id,
         |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
         |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
         |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
         |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
         |  FROM sh GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
         |  UNION ALL
         |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
         |), shd AS (
         |  SELECT DISTINCT * FROM sh
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
         |), inter AS (
         |  SELECT c.doc1, c.doc2, count(*) AS inter
         |  FROM cand c
         |  JOIN shd a ON a.doc_id = c.doc1
         |  JOIN shd b ON b.doc_id = c.doc2 AND b.s = a.s
         |  GROUP BY 1, 2
         |)
         |SELECT doc1, doc2, inter, inter * 1.0 / (s1.n + s2.n - inter) AS jac
         |FROM inter
         |JOIN sizes s1 ON s1.doc_id = doc1
         |JOIN sizes s2 ON s2.doc_id = doc2
         |WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5
         |ORDER BY doc1, doc2""".stripMargin,

    "q_dup_groups" ->
      s"""$dupGroupsOracleCte
         |SELECT doc_id, group_id FROM grp ORDER BY doc_id""".stripMargin,

    // the survivorship twin: same CC chain, then one window pick —
    // longest member (n_chars) per group, min doc_id on ties
    "q_dup_keep_best" ->
      s"""$dupGroupsOracleCte,
         |j AS (
         |  SELECT g.group_id, g.doc_id, d.n_chars
         |  FROM grp g JOIN documents d USING (doc_id)
         |), k AS (
         |  SELECT group_id, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY group_id
         |                       ORDER BY n_chars DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY group_id) AS n_members
         |  FROM j
         |)
         |SELECT group_id, doc_id AS kept_id, n_members,
         |  n_chars AS kept_chars
         |FROM k WHERE rk = 1 ORDER BY group_id""".stripMargin,

    "q_dedup_embed_topk" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(
        |    list_sum(list_transform(range(1, 65), k -> av[k] * bv[k])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), k -> av[k] * av[k]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), k -> bv[k] * bv[k])))), 4) AS cos
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS av FROM embeddings) a
        |JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings) b
        |  ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, id1, id2 LIMIT 20""".stripMargin,

    // Bucket parity: the oracle recomputes the SAME sign-LSH buckets
    // from the same md5-derived planes (inlined below as integer list
    // literals via Similarity.planes) over micro-unit-quantized
    // components — every per-bit sum is exact BIGINT arithmetic in
    // both engines, so bucket ids agree bit-for-bit by construction.
    "q_dedup_embed_lsh" -> {
      val bitExprs = graft.ops.Similarity.planes(42, 8, 64).map { p =>
        val pl = p.map(_.toLong).mkString("[", ", ", "]")
        "(CASE WHEN list_sum(list_transform(range(1, 65), " +
          s"k -> CAST(round(v[k] * 1000000.0) AS BIGINT) * ($pl)[k])) >= 0 " +
          "THEN '1' ELSE '0' END)"
      }
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), b AS (
         |  SELECT vec_id, v,
         |    sqrt(list_sum(list_transform(range(1, 65), k -> v[k] * v[k]))) AS nrm,
         |    ${bitExprs.mkString(" || ")} AS bucket
         |  FROM e
         |)
         |SELECT a.vec_id AS id1, b2.vec_id AS id2, a.bucket,
         |  round(list_sum(list_transform(range(1, 65), k -> a.v[k] * b2.v[k]))
         |        / (a.nrm * b2.nrm), 4) AS cos
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |ORDER BY cos DESC, id1, id2 LIMIT 20""".stripMargin
    },

    "q_embed_label_topk" ->
      """WITH e0 AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, label, v,
        |         sqrt(list_sum(list_transform(range(1, 65), k -> v[k] * v[k]))) AS nrm
        |  FROM e0
        |), pairs AS (
        |  SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_sum(list_transform(range(1, 65), k -> a.v[k] * b.v[k]))
        |          / (a.nrm * b.nrm), 4) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY label
        |            ORDER BY cos DESC, id1, id2) AS BIGINT) AS rk
        |  FROM pairs
        |)
        |SELECT label, id1, id2, cos, rk FROM r
        |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,

    "q_ann_topk" ->
      """SELECT e.vec_id,
        |  round(
        |    list_sum(list_transform(range(1, 65), k -> v[k] * qv[k])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), k -> v[k] * v[k]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), k -> qv[k] * qv[k])))), 4) AS cos
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
        |CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,

    "q_ivf_recall" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (
        |  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS id, v FROM e WHERE vec_id >= 10
        |), pairs AS (
        |  SELECT q.qid, c.id,
        |    round(
        |      list_sum(list_transform(range(1, 65), k -> v[k] * qv[k])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), k -> v[k] * v[k]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), k -> qv[k] * qv[k])))), 4) AS cos
        |  FROM c CROSS JOIN q
        |), ranked AS (
        |  SELECT qid, id, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rk
        |  FROM pairs
        |)
        |SELECT qid, CAST(rk AS BIGINT) AS rk, id, true AS recall_band
        |FROM ranked WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e
        |), q AS (
        |  SELECT vec_id, v, scale,
        |    CASE WHEN scale = 0
        |         THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
        |    END AS qv
        |  FROM s
        |)
        |SELECT vec_id,
        |  round(scale, 6) AS scale_r,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        |  round(list_sum(list_transform(range(1, 65),
        |    k -> abs(v[k] - qv[k] * scale))), 6) AS l1_err_r
        |FROM q
        |ORDER BY vec_id""".stripMargin,

    "q_pq_encode" -> {
      val cb = pqOracleCodebook.map(_.toLong).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cb AS (SELECT $cb AS f),
         |d AS (
         |  SELECT e.vec_id, j.j, c.c,
         |    list_sum(list_transform(range(1, 17), t ->
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]) *
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]))) AS d2
         |  FROM e, cb, range(0, 4) AS j(j), range(0, 4) AS c(c)
         |),
         |r AS (SELECT vec_id, j, c,
         |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
         |      FROM d)
         |SELECT vec_id,
         |  CAST(max(CASE WHEN j = 0 THEN c END) AS INT) AS code0,
         |  CAST(max(CASE WHEN j = 1 THEN c END) AS INT) AS code1,
         |  CAST(max(CASE WHEN j = 2 THEN c END) AS INT) AS code2,
         |  CAST(max(CASE WHEN j = 3 THEN c END) AS INT) AS code3
         |FROM r WHERE rk = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    "q_pq_adc" -> {
      val cb = pqOracleCodebook.map(_.toLong).mkString("[", ", ", "]")
      val qv = adcQueryVec.map(_.toLong).mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cb AS (SELECT $cb AS f, $qv AS q),
         |d AS (
         |  SELECT e.vec_id, j.j, c.c,
         |    list_sum(list_transform(range(1, 17), t ->
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]) *
         |      (v[j.j*16 + t] - f[(j.j*4 + c.c)*16 + t]))) AS d2,
         |    list_sum(list_transform(range(1, 17), t ->
         |      q[j.j*16 + t] * f[(j.j*4 + c.c)*16 + t])) AS dotqc
         |  FROM e, cb, range(0, 4) AS j(j), range(0, 4) AS c(c)
         |),
         |r AS (SELECT vec_id, dotqc,
         |        row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
         |      FROM d)
         |SELECT vec_id, CAST(sum(dotqc) AS DOUBLE) AS adc
         |FROM r WHERE rk = 1
         |GROUP BY vec_id
         |ORDER BY adc DESC, vec_id LIMIT 20""".stripMargin
    },

    "q_ivfpq_probe" -> ivfPqProbeOracle(),

    // the advanced index converges to the one-shot build (batch 0 ∪
    // batch 1 = the corpus; the replay is a marker no-op), so the
    // oracle IS the q_ivfpq_probe recompute — any row duplicated or
    // lost in the fold/replay/swap chain shifts the ADC top-k
    "q_ivfpq_advance" -> ivfPqProbeOracle(),

    // the add→remove→add lifecycle converges to the surviving set
    // (evens minus multiples of 4, plus odds = vec_id % 4 ≠ 0), so
    // the oracle is the same probe recompute restricted to it — a
    // tombstone wrongly kept, re-applied on replay, or leaking into
    // the later add batch shifts the top-k and hash-mismatches
    "q_ivfpq_remove" -> ivfPqProbeOracle(" WHERE vec_id % 4 <> 0"),

    // the quarantine split re-derived arithmetically: the corruption
    // rule is doc_id % 97 (a pure function, like the media layout's
    // parameters), so the oracle never parses JSON — clean rows carry
    // the ORIGINAL text's md5 (the round-trip must be lossless),
    // quarantined rows their id and a NULL digest
    "q_jsonl_quarantine" ->
      """SELECT doc_id, lang, md5(text) AS text_md5 FROM documents
        | WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id, '__quarantined' AS lang,
        |  CAST(NULL AS VARCHAR) AS text_md5 FROM documents
        | WHERE doc_id % 97 = 0
        |ORDER BY doc_id""".stripMargin,

    // the crash-resumed lifecycle (add evens → crash-resumed add odds
    // → remove multiples of 4) converges to the SAME surviving set as
    // q_ivfpq_remove, so the oracle is the same restricted probe
    // recompute — the crash/resume and upsert invariants are exactly
    // what the hash holds to account
    "q_ivfpq_leafwise" -> ivfPqProbeOracle(" WHERE vec_id % 4 <> 0"),



    "q_text_langid" -> {
      def inList(l: String) = langStopwords.filter(_._2 == l)
        .map(w => s"'${w._1}'").mkString("(", ", ", ")")
      s"""WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |           FROM documents),
         |h AS (
         |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(CASE WHEN tok IN ${inList("en")} THEN 1 ELSE 0 END) AS BIGINT) AS hits_en,
         |    CAST(sum(CASE WHEN tok IN ${inList("fr")} THEN 1 ELSE 0 END) AS BIGINT) AS hits_fr,
         |    CAST(sum(CASE WHEN tok IN ${inList("es")} THEN 1 ELSE 0 END) AS BIGINT) AS hits_es,
         |    CAST(sum(CASE WHEN tok IN ${inList("de")} THEN 1 ELSE 0 END) AS BIGINT) AS hits_de
         |  FROM w GROUP BY 1, 2)
         |SELECT doc_id, lang, n_tok, hits_en, hits_fr, hits_es, hits_de,
         |  CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) * 20 >= n_tok
         |       THEN CASE
         |         WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
         |         WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
         |         WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
         |         ELSE 'fr' END
         |       ELSE 'und' END AS pred_lang
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "q_quality_gates" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) >= 30 AS len_ok,
        |    (1.0 - len(list_distinct(string_split(text, ' '))) /
        |           CAST(len(string_split(text, ' ')) AS DOUBLE)) <= 0.5 AS rep_ok,
        |    (len(list_distinct(string_split(text, ' '))) /
        |     len(string_split(text, ' '))) >= 0.3 AS ttr_ok,
        |    min(doc_id) OVER (PARTITION BY md5(text)) = doc_id AS uniq_ok
        |  FROM documents
        |)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
        |  CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
        |  CAST(sum(CASE WHEN NOT ttr_ok THEN 1 ELSE 0 END) AS BIGINT) AS fail_ttr,
        |  CAST(sum(CASE WHEN NOT uniq_ok THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup,
        |  CAST(sum(CASE WHEN len_ok AND rep_ok AND ttr_ok AND uniq_ok
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        |FROM g""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |       len(w) AS n_tok,
        |       len(list_distinct(w)) AS n_uniq,
        |       len(list_distinct(w)) * 1.0 / len(w) AS ttr,
        |       (length(text) - (len(w) - 1)) * 1.0 / len(w) AS avg_word_len,
        |       len(w) >= 30 AND len(list_distinct(w)) * 1.0 / len(w) >= 0.3 AS quality_ok
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      s"""WITH sh AS (
         |  $shinglesSql
         |), fpmin AS (
         |  SELECT doc_id, min(md5(s)) AS fp_min FROM sh GROUP BY doc_id
         |)
         |SELECT d.doc_id, md5(d.text) AS fp_full, fpmin.fp_min
         |FROM documents d LEFT JOIN fpmin ON fpmin.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_text_rolling_hash" ->
      """SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(substr(text, 1, 40), ''), c -> CAST(ord(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 1000000007) AS rhash
        |FROM documents WHERE length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    "q_text_edit_distance" ->
      """SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |       levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc1""".stripMargin,

    "q_text_token_count" ->
      """SELECT doc_id, n_chars,
        |       len(string_split(text, ' ')) AS n_ws_tokens,
        |       (n_chars + 3) // 4 AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_scrub_pii" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id
        |           || '@mail.example.org or https://docs.example.org/d/'
        |           || doc_id || '?ref=x' AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    'https?://[A-Za-z0-9./_%?=&#:@-]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  md5(regexp_replace(
        |        regexp_replace(raw, 'https?://[A-Za-z0-9./_%?=&#:@-]+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
        |    AS scrub_md5
        |FROM aug ORDER BY doc_id""".stripMargin,
  )
}
