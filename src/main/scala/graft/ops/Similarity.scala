package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over an embedding column (`array<float|double>`).
  *
  * Two paths:
  *  - `bruteForceTopK` — exact cosine top-k, O(n) per query. The
  *    correctness baseline, and the right choice when the corpus side
  *    fits one scan (queries broadcast).
  *  - `lshBuckets` / `lshTopK` — random-hyperplane (sign) LSH: each
  *    vector maps to a `nBits`-bit bucket; candidates share a bucket.
  *    At 100 TB this turns the quadratic pair space into
  *    per-bucket joins; probing neighbors' buckets trades recall for
  *    cost. Library default nBits = 16 (r9; the old 8-bit default
  *    measurably saturated at ×32 corpus growth) — size it with
  *    [[autoBits]] when the corpus size is known.
  *
  * All kernels run through `graft.functions.DotProduct` — a codegen'd
  * tight loop (Spark's array higher-order functions are
  * CodegenFallback, i.e. interpreted per row, which dominates cost on
  * wide pair joins).
  *
  * Hyperplanes are derived deterministically from md5 of
  * (seed, bit, dim) ON THE DRIVER — nBits × dims doubles (1024 at the
  * 16-bit default × 64 dims) — and enter the plan as array literals. Every executor sees identical
  * planes with zero per-row hash work (the earlier formulation
  * recomputed an interpreted md5 per element × bit × row).
  */
object Similarity {

  /** Cosine of two array<double> columns (codegen'd kernel). */
  def cosine(a: Column, b: Column): Column = GraftFunctions.cosine(a, b)

  /** Exact top-k by cosine for one query vector (broadcast).
    *
    * `query` must hold exactly ONE row (asserted, like [[ivfTopK]]) —
    * a multi-row query frame would silently pool every query's pairs
    * into one unlabeled ranking; use [[ivfTopKBatch]] for batches.
    * Cosine against a zero-norm vector is UNDEFINED (0/0 = NaN, and
    * NaN sorts ABOVE every real cosine in Spark, so without the guard
    * zero vectors would win rank 1): zero-norm corpus rows are
    * excluded, and a zero-norm query yields an empty result. */
  def bruteForceTopK(corpus: DataFrame, idCol: Column, vecCol: Column,
      query: DataFrame, queryVec: Column, k: Int): DataFrame = {
    val c = corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("v"), col("v"))))
    val q = broadcast(
      oneRow(query.select(queryVec.cast("array<double>").as("qv")),
          "bruteForceTopK")
        .withColumn("qn", sqrt(GraftFunctions.dot(col("qv"), col("qv")))))
    c.crossJoin(q)
      .filter(col("nrm") > 0 && col("qn") > 0)
      .select(col("id"),
        round(GraftFunctions.dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** The single-query frame reduced to its one row with the arity
    * asserted INSIDE the plan: `collect_list` over the (tiny by
    * contract) frame yields exactly one row whose list size gates a
    * `raise_error` — a zero- or multi-row query frame fails at
    * execution with the same message the old eager `require` gave,
    * but WITHOUT the extra Spark job per call (an eager
    * `limit(2).count()` also re-executed the query frame's lineage
    * and broke streaming/deferred composition of these functions).
    * The aggregate runs inside the broadcast build the caller was
    * paying for anyway. The collect runs over `query.limit(2)`:
    * size 2 already distinguishes multi-row from one-row, and the
    * limit bounds the collected state to two rows — a misuse call
    * that passes a LARGE frame (the exact case this guard exists
    * for) raises the clean arity error instead of packing the whole
    * frame into one task's collect_list and risking OOM. */
  private def oneRow(query: DataFrame, fn: String): DataFrame = {
    val packed = query.limit(2)
      .select(struct(query.columns.map(col).toSeq: _*).as("__q"))
      .agg(collect_list(col("__q")).as("__qs"))
    packed.select(
        when(size(col("__qs")) === 1, element_at(col("__qs"), 1))
          .otherwise(raise_error(concat(
            lit(s"$fn expects exactly 1 query row, got "),
            // limit(2) caps what the collect can observe: any multi-row
            // misuse frame packs exactly 2 — report it honestly instead
            // of implying the real count was 2
            when(size(col("__qs")) >= 2, lit("2 or more"))
              .otherwise(size(col("__qs")).cast("string"))))).as("__q"))
      .select(col("__q.*"))
  }

  /** Deterministic hyperplane for (seed, bit): `dims` doubles derived
    * from md5("{seed}:{bit}:{dim}") — first 6 hex chars as an integer
    * centered on zero. Direction-only use, so scale is irrelevant. */
  private[ops] def plane(seed: Int, bit: Int, dims: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val hex = md.digest(s"$seed:$bit:$d".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) - 8388608L).toDouble
    }
  }

  /** The full deterministic hyperplane family as data — public so an
    * external system (a cross-engine oracle, another indexer) can
    * replicate the buckets bit-for-bit. */
  def planes(seed: Int, nBits: Int, dims: Int): Seq[Seq[Double]] =
    (0 until nBits).map(b => plane(seed, b, dims))

  /** Bucket-space sizing rule for sign-LSH (SCALE.md "Fixed-width
    * blocking saturates"): the 2^nBits bucket space must stay ≫ the
    * corpus or buckets stop splitting and pair generation goes
    * quadratic — the r8 sweep measured the old 8-bit default
    * saturating at ×32 corpus growth (max bucket 579 vs 17 at
    * 16-bit). nBits ≈ log₂(nVectors) + margin, clamped to [8, 30]
    * (beyond 2²⁶ vectors at the default margin, prefer the IVF index:
    * ever-finer sign buckets cost recall). The library default of 16
    * is this rule evaluated at the ~10⁵-vector test corpora; pass
    * `autoBits(corpus.count())` when the size is known. */
  def autoBits(nVectors: Long, margin: Int = 4): Int = {
    require(nVectors > 0)
    val raw = math.ceil(math.log(nVectors.toDouble) / math.log(2.0)).toInt + margin
    math.min(30, math.max(8, raw))
  }

  /** Sign-LSH bucket id (a `nBits`-char '0'/'1' string) per vector.
    * `dims` must match the embedding dimensionality — and that is
    * ENFORCED per row: the dot kernel returns null on a length
    * mismatch (or a null vector), and a naive `otherwise("0")` would
    * turn every bit into '0', silently collapsing the whole corpus
    * into one bucket and the bucket join into a full cross product.
    * Mismatches raise instead. */
  def lshBuckets(corpus: DataFrame, idCol: Column, vecCol: Column,
      nBits: Int = 16, seed: Int = 42, dims: Int = 64): DataFrame = {
    val v = vecCol.cast("array<double>")
    val bitCols = (0 until nBits).map { b =>
      val planeLit = array(plane(seed, b, dims).map(lit): _*)
      val d = GraftFunctions.dot(v, planeLit)
      when(d >= 0, "1").when(d < 0, "0").otherwise(raise_error(
        lit(s"lshBuckets: null plane dot — vector is null or its length != dims ($dims)")))
    }
    // coalesce-to-constant marks the bucket NON-NULLABLE (the raise
    // fires before any null could propagate, so the "" default is
    // unreachable) — without it, joining on the bucket pushes an
    // isnotnull(<whole bucket expression>) filter below the
    // projection and the entire nBits-dot computation runs TWICE per
    // row per side (see lshBucketQuantized, where this was measured)
    corpus.select(idCol.as("id"), v.as("v"),
      coalesce(concat(bitCols: _*), lit("")).as("bucket"))
  }

  /** Sign-LSH bucket id as an EXACT-INTEGER expression: vector
    * components quantized to micro-units (`round(x*1e6)` as BIGINT),
    * plane components already integers (see [[plane]]), so each bit is
    * the sign of a BIGINT sum — bit-identical across engines,
    * partitionings, and summation orders, unlike the double-dot
    * [[lshBuckets]] whose sign could in principle flip on a libm/ulp
    * boundary. This is the variant to use when the bucket id must be
    * reproducible outside Spark (e.g. a cross-engine dedup contract);
    * recall/cost behavior is the same sign-LSH. Magnitudes: |plane| <
    * 2^23, |quantized| ≤ ~2^20·|x|, 64 terms — comfortably inside
    * BIGINT.
    *
    * WIDTH MIGRATION (r9): the default nBits moved 8 → 16. Buckets of
    * different widths never match — joining a persisted 8-bit bucket
    * column against new-default 16-bit buckets silently yields zero
    * candidates. Pass nBits = 8 explicitly when probing pre-r9 state,
    * or re-bucket it; route the PERSISTED side of any bucket join
    * through [[checkedBucket]] so a stale width raises instead of
    * returning empty. */
  def lshBucketQuantized(vecCol: Column, nBits: Int = 16, seed: Int = 42,
      dims: Int = 64): Column = {
    val v = vecCol.cast("array<double>")
    // Each bit's quantized fold runs in the codegen'd QuantizedDot
    // kernel, not the aggregate(zip_with(...)) HOF chain: the HOF form
    // is CodegenFallback — per-row interpreted lambda dispatch per
    // element, measured ~0.18 s per 2 000 rows × 8 bits at sf0.1, and
    // the bucket is computed on BOTH sides of the self-join (the bulk
    // of q_dedup_embed_lsh's wall). Identical integer arithmetic;
    // DuckDB-round parity documented on the kernel, burnin-gated.
    //
    // The mega-bucket hazard (null folds silently mapping every bit to
    // '0' and collapsing the corpus into one bucket) is guarded by ONE
    // SENTINEL BIT, not per bit: the kernel yields null exactly when
    // the vector is null, the wrong length, or carries null/non-finite
    // elements — row-uniform across bits, so bit 0's three-branch
    // guard protects them all (and being lambda-free, its double
    // reference is subexpression-eliminated in codegen — the r9
    // per-bit HOF guard re-paid the whole fold per negative dot,
    // measured +30%).
    val bits = (0 until nBits).map { b =>
      val pLit = array(plane(seed, b, dims).map(lit): _*)
      val dotInt = GraftFunctions.quantizedDot(v, pLit)
      if (b == 0)
        when(dotInt >= 0, "1").when(dotInt < 0, "0").otherwise(raise_error(
          lit(s"lshBucketQuantized: null quantized dot — vector is " +
            s"null, has null elements, or its length != dims ($dims)")))
      else when(dotInt >= 0, "1").otherwise("0")
    }
    // coalesce-to-constant marks the bucket NON-NULLABLE: the sentinel
    // raises before a null could propagate, so the "" default is
    // unreachable — but WITHOUT it the column is formally nullable and
    // joining on it pushes an isnotnull(<whole bucket expression>)
    // filter below the projection: the entire nBits-kernel computation
    // runs a SECOND time per row per side, inlined into one
    // un-splittable generated predicate method that at 16 bits blows
    // the JIT's huge-method limit and drops to bytecode
    // interpretation (measured: the ×16 bucket self-join went 2.3 →
    // 12.6 s from that filter alone; folding the IsNotNull restores
    // single evaluation).
    coalesce(concat(bits: _*), lit(""))
  }

  /** Probe-side width guard for a PERSISTED sign-LSH bucket column:
    * raises at execution on any row whose bucket width differs from
    * `nBits`, instead of the silent zero-candidate join a stale width
    * produces (the r9 8→16 default-migration hazard — bucket strings
    * of different widths never equi-match). Wrap the persisted side of
    * a bucket equi-join: `persisted.withColumn("bucket",
    * Similarity.checkedBucket(col("bucket"), nBits))`. One codegen'd
    * length compare per row; streaming-safe. */
  def checkedBucket(bucketCol: Column, nBits: Int): Column =
    when(length(bucketCol) === nBits, bucketCol).otherwise(raise_error(concat(
      lit(s"lsh bucket width mismatch: expected $nBits bits, got "),
      length(bucketCol),
      lit(" — the bucket column was persisted under a different nBits; " +
        "pass the width it was built at, or re-bucket it"))))

  /** [[lshBuckets]] with the width AUTO-SIZED to the corpus — the
    * embedding-side twin of `Dedup.autoSimHashWidth`'s wiring (r16,
    * executing the r15 verdict's #6): nBits = [[autoBits]](count), so
    * the 2^nBits bucket space rides the corpus and occupancy stays
    * flat instead of saturating at any fixed width. Measured
    * (ScaleProbe risk, `risk_embed_lsh_auto` vs the fixed-width
    * rows): max bucket 4→5→7 across ×1/×16/×64 corpus growth under
    * auto-sizing, vs 3→10→34 at fixed 16-bit and 21→289→1166 at
    * fixed 8-bit (saturated: all 256 buckets occupied by ×16, pair
    * space quadratic). Costs ONE count job at call time (the
    * train-once class — size a layout when building it, not per
    * probe). Returns the bucketed frame AND the chosen width:
    * persist the width with the buckets and guard probes with
    * [[checkedBucket]] — buckets of different widths never match. */
  def lshBucketsAuto(corpus: DataFrame, idCol: Column, vecCol: Column,
      seed: Int = 42, dims: Int = 64): (DataFrame, Int) = {
    val bits = autoBits(math.max(1L, corpus.count()))
    (lshBuckets(corpus, idCol, vecCol, bits, seed, dims), bits)
  }

  /** [[lshBucketQuantized]] auto-sized the same way (see
    * [[lshBucketsAuto]]): the cross-engine-reproducible bucket column
    * at nBits = [[autoBits]](count). Returns (bucket column, width). */
  def lshBucketQuantizedAuto(corpus: DataFrame, vecCol: Column,
      seed: Int = 42, dims: Int = 64): (Column, Int) = {
    val bits = autoBits(math.max(1L, corpus.count()))
    (lshBucketQuantized(vecCol, bits, seed, dims), bits)
  }

  /** Approximate top-k: exact cosine within the query's LSH bucket.
    * Recall improves with fewer bits / multiple probe tables.
    * `query` must hold exactly ONE row (asserted, like [[ivfTopK]] /
    * [[bruteForceTopK]]); zero-norm pairs (undefined cosine — NaN
    * would otherwise sort ABOVE every real score) are excluded. */
  def lshTopK(corpus: DataFrame, idCol: Column, vecCol: Column,
      query: DataFrame, queryVec: Column, k: Int,
      nBits: Int = 16, seed: Int = 42, dims: Int = 64): DataFrame = {
    val cb = lshBuckets(corpus, idCol, vecCol, nBits, seed, dims)
    val qb = broadcast(oneRow(
      lshBuckets(query, lit(0L), queryVec, nBits, seed, dims)
        .select(col("v").as("qv"), col("bucket").as("qbucket")), "lshTopK"))
    cb.join(qb, col("bucket") === col("qbucket"))
      .select(col("id"), round(cosine(col("v"), col("qv")), 4).as("cos"))
      .filter(!isnan(col("cos")))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  // ---------------------------------------------------------------
  // Int8 scalar quantization — the ANN memory-footprint step: an
  // array<double> embedding becomes 64 bytes + one double scale (8.1×
  // smaller), which is what makes a 100 TB vector corpus cache- and
  // shuffle-affordable. Per-vector max-abs scaling (the symmetric
  // scheme every vector store ships): q[k] = round(v[k]/scale),
  // scale = max|v|/127 — all plain IEEE arithmetic, no libm, so the
  // quantized values are bit-identical on any engine.
  // ---------------------------------------------------------------

  /** Per-vector symmetric int8 scale: max|v| / 127. Zero vectors get
    * scale 0 — pair with [[int8Quantize]], which maps them to zero
    * codes rather than dividing by zero. */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127.0)

  /** Quantized codes (array<long> in [-127, 127]) for a vector under a
    * per-vector scale. Row-local; `round` is half-away-from-zero in
    * both Spark and DuckDB, so codes cross-check exactly. */
  def int8Quantize(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => round(x / scale).cast("long")))

  /** Reconstruction (dequantized vector) — codes × scale. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // ---------------------------------------------------------------
  // IVF (inverted-file) index — the coarse-quantizer scale path.
  //
  // Train: deterministic seeding (k smallest md5(id)) + a few Lloyd
  // iterations; per-dimension means go through DECIMAL so the
  // centroids are identical under any partitioning (float summation
  // order would otherwise make the index nondeterministic).
  // The k × dims centroid model is collected to the driver — it is
  // the model, small by construction — and re-enters every plan as
  // broadcast literals; vectors themselves never leave executors.
  //
  // Search: assign the query to its nprobe nearest centroids, then
  // exact cosine only within those inverted lists — at 100 TB this
  // reads |corpus| · nprobe/k of the pair space instead of all of it.
  // ---------------------------------------------------------------

  /** Past this many centroids, assignment stops inlining the model as
    * literals (a k-term `least` expression: fine at k=16, a codegen /
    * analysis blowup at a realistic k of 4k–64k lists) and goes
    * through a broadcast centroid RELATION + min-struct aggregate
    * instead — same result (see IvfSpec equivalence case), plan size
    * O(1) in k. */
  private[graft] val AssignLiteralMaxK = 64

  /** Nearest-centroid id for a vector column, given the collected
    * centroid model (cluster id → array<double>). Ties break to the
    * lower cluster id (least over (dist, cid) structs). */
  private def assignExpr(v: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val cands = centroids.map { case (cid, c) =>
      val cLit = array(c.map(lit): _*)
      val dot = GraftFunctions.dot(v, cLit)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((lit(1.0) - dot / (sqrt(GraftFunctions.dot(v, v)) * lit(cn))).as("dist"),
        lit(cid).as("cid"))
    }
    // least() demands >= 2 args: a 1-centroid model assigns trivially
    (if (cands.size == 1) cands.head else least(cands: _*)).getField("cid")
  }

  /** The centroid model as a broadcast-able k-row frame
    * (cid, c, cn): the large-k alternative to literal inlining. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    centroids.map { case (cid, c) =>
      (cid, c, math.sqrt(c.map(x => x * x).sum))
    }.toDF("__cid", "__c", "__cn")
  }

  /** Nearest-centroid assignment via a broadcast centroid relation:
    * each vector row joins the k-row model (broadcast nested-loop —
    * the k-fanout is consumed by the partial aggregate in the SAME
    * stage, so nothing ×k ever crosses the network), then argmin by
    * `min(struct(dist, cid))` — identical semantics (including the
    * lower-cid tie-break) to [[assignExpr]]'s literal `least`.
    * Input must have columns (id, v); output is (id, v, cid). */
  private def assignByJoin(base: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val cf = broadcast(centroidFrame(base.sparkSession, centroids))
    // multiplicity-preserving: the argmin groupBy would collapse
    // duplicate (id, v) input rows into one output row — diverging
    // from the literal withColumn path, which is row-for-row. Count
    // duplicates BEFORE the k-fanout (also: k distance evaluations
    // per DISTINCT row, not per row) and re-expand after the argmin.
    val counted = base.groupBy(col("id"), col("v")).agg(count(lit(1)).as("__m"))
    counted.crossJoin(cf)
      .select(col("id"), col("v"), col("__m"),
        struct((lit(1.0) - GraftFunctions.dot(col("v"), col("__c")) /
          (sqrt(GraftFunctions.dot(col("v"), col("v"))) * col("__cn"))).as("dist"),
          col("__cid").as("cid")).as("dc"))
      .groupBy(col("id"), col("v"), col("__m"))
      .agg(min(col("dc")).as("best"))
      .select(col("id"), col("v"), col("best").getField("cid").as("cid"),
        explode(sequence(lit(1L), col("__m"))).as("__i"))
      .drop("__i")
  }

  /** (id, v, cid) for every corpus row — literal expression below the
    * inlining threshold, broadcast-relation join above it.
    * `maxLiteralK` is a test seam: IvfSpec pins it to force each path
    * on the same centroids and assert byte-identical assignments. */
  private[graft] def assignClusters(base: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      maxLiteralK: Int = AssignLiteralMaxK): DataFrame =
    if (centroids.size <= maxLiteralK)
      base.withColumn("cid", assignExpr(col("v"), centroids))
    else assignByJoin(base, centroids)

  /** Train an IVF coarse quantizer: k centroids over `corpus`.
    * Returns (cluster_id, centroid) rows. Deterministic: md5-seeded
    * init, decimal-mean Lloyd updates. */
  def ivfCentroids(corpus: DataFrame, idCol: Column, vecCol: Column,
      k: Int = 16, iters: Int = 2): Seq[(Int, Seq[Double])] = {
    val base = corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v"))
    var centroids: Seq[(Int, Seq[Double])] = base
      .withColumn("__h", md5(col("id").cast("string").cast("binary")))
      .orderBy(col("__h"), col("id"))
      .limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }.toIndexedSeq
    for (_ <- 0 until iters) {
      val assigned = assignClusters(base, centroids)
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x").cast("decimal(38,18)")).cast("double").as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)").as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1).toIndexedSeq
      // keep a previous centroid for clusters that lost all members
      val byId = means.toMap
      centroids = centroids.map { case (cid, c) => (cid, byId.getOrElse(cid, c)) }
    }
    centroids
  }

  /** Persist a trained IVF model (the collected centroid state — the
    * train-once/serve-many lifecycle across SESSIONS, extending the
    * in-session memo; cross-store lifecycle contract:
    * REGISTRIES.md): one parquet row per centroid, swap-published
    * so a retrain never exposes a half-written model to concurrent
    * probes. */
  def saveIvfModel(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    graft.etl.Swap.open(spark, path).publish(
      centroids.map { case (cid, c) => (cid, c) }.toDF("cid", "c"),
      coalesce = Some(1))()
  }

  /** Load a model written by [[saveIvfModel]] (recovering an
    * interrupted save first), in the shape every probe/assign entry
    * point takes. */
  def loadIvfModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    graft.etl.Swap.open(spark, path).read().collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  /** The `nprobe` nearest centroid ids for a vector column, as an
    * array expression: per-centroid (dist, cid) structs, sorted (struct
    * order = dist then cid, matching [[assignExpr]]'s tie-break),
    * sliced to nprobe, projected to cid. Pure Column work — probe
    * selection runs on executors, so a MILLION query rows cost zero
    * driver round-trips. */
  private def probeExpr(v: Column, centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): Column = {
    val cands = centroids.map { case (cid, c) =>
      val cLit = array(c.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((lit(1.0) - GraftFunctions.dot(v, cLit) /
        (sqrt(GraftFunctions.dot(v, v)) * lit(cn))).as("dist"),
        lit(cid).as("cid"))
    }
    transform(slice(sort_array(array(cands: _*)), 1, nprobe),
      s => s.getField("cid"))
  }

  /** Batch IVF search: exact cosine top-k per query row, probing each
    * query's `nprobe` nearest inverted lists.
    *
    * 100 TB shape: centroids are the only collected state (the model —
    * k × dims doubles); probe assignment is a per-row expression on the
    * query frame (no driver round-trip per query); the probe join is an
    * equi-join on cluster id, so each corpus partition is read once per
    * probing query-cluster, not per query×corpus pair; the per-query
    * top-k folds through the mergeable [[graft.functions.TopKAgg]]
    * k-heap (same tie-break the rank window had: cos DESC, id ASC) —
    * per-query candidate sets grow with the corpus
    * (|corpus|/nClusters × nprobe), so a rank window would SORT what
    * the heap scans in O(candidates · log k) with map-side combine;
    * the exchange carries |queries|·k heap entries, not the candidate
    * set. Ids must be BIGINT (the heap's id slot); candidates with a
    * NULL score are skipped, not emitted at tail ranks — same
    * documented narrowing as [[graft.functions.TopKPairAgg]]
    * (cosine over non-null vectors is never null here). Queries are
    * broadcast (a query batch is small by definition — for a
    * corpus-sized "query" set use the LSH pair path instead). */
  def ivfTopKBatch(corpus: DataFrame, idCol: Column, vecCol: Column,
      query: DataFrame, queryIdCol: Column, queryVec: Column, k: Int,
      nClusters: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    import graft.functions.TopKAgg
    val centroids = ivfCentroids(corpus, idCol, vecCol, nClusters, iters)
    ivfProbeJoin(
        assignClusters(
          corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")),
          centroids),
        query, queryIdCol, queryVec, centroids, nprobe)
      .groupBy(col("qid"))
      .agg(TopKAgg.topK(col("cos"), col("id"), k).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__s"))
      .select(col("qid"), col("__s.id").as("id"), col("__s.score").as("cos"))
  }

  /** IVF recall diagnostic (the q_ivf_recall property query): trains
    * ONE coarse quantizer, probes it exhaustively (nprobe = nClusters
    * — every inverted list is scanned, so the result is the EXACT
    * top-k by construction, independently recomputable by any exact
    * engine) and at `nprobePartial`, and returns one row per query:
    *
    *   (qid, full_ids: the exact top-k id list in rank order,
    *    recall_partial: |partial ∩ full| as an exact integer)
    *
    * full_ids is hash-exact cross-engine (rank order = round(cos,4)
    * DESC, id ASC — a total order, same parity contract q_ann_topk
    * proves); recall_partial's VALUE depends on the trained model, so
    * declared queries compare it as a disclosed band (§7.3 rule 8),
    * like q_approx_distinct.
    *
    * Scale shape: one model train (centroids are the only collected
    * state), then ONE probe join and ONE aggregation: the partial
    * probe's candidate set is a prefix-subset of the exhaustive one
    * (same model, same distance order), so both top-k heaps fold over
    * the single exhaustive join — the partial heap just skips rows
    * whose probe rank exceeds `nprobePartial` (TopKAgg ignores null
    * scores). The exchange carries 2·|queries|·k heap entries, the
    * candidate join is executed once, not twice. */
  def ivfRecall(corpus: DataFrame, idCol: Column, vecCol: Column,
      query: DataFrame, queryIdCol: Column, queryVec: Column, k: Int,
      nClusters: Int = 16, nprobePartial: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nClusters, iters)
    ivfRecallAssigned(
      assignClusters(
        corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")),
        centroids),
      centroids, query, queryIdCol, queryVec, k, nprobePartial)
  }

  /** [[ivfRecall]] over a pre-trained model: `assigned` is the
    * (id, v, cid) corpus from [[assignClusters]], `centroids` the
    * model that produced it. The serve-path entry point — an IVF
    * index is trained once and probed many times, so callers memoize
    * (model, assignment) per corpus and pay only probe + aggregate
    * per call. */
  def ivfRecallAssigned(assigned: DataFrame,
      centroids: Seq[(Int, Seq[Double])], query: DataFrame,
      queryIdCol: Column, queryVec: Column, k: Int,
      nprobePartial: Int): DataFrame = {
    import graft.functions.TopKAgg
    ivfProbeJoin(assigned, query, queryIdCol, queryVec,
        centroids, nprobe = centroids.size)
      .groupBy(col("qid"))
      .agg(
        TopKAgg.topK(col("cos"), col("id"), k).as("__tf"),
        TopKAgg.topK(when(col("__prank") <= nprobePartial, col("cos")),
          col("id"), k).as("__tp"))
      .select(col("qid"),
        expr("transform(__tf, s -> s.id)").as("full_ids"),
        size(array_intersect(expr("transform(__tf, s -> s.id)"),
          expr("transform(__tp, s -> s.id)"))).as("recall_partial"))
  }

  /** Scored IVF probe candidates as a pure row-local plan: each query
    * row expands to its `nprobe` nearest inverted lists (literal
    * centroid expression — executor-side, no driver round-trip, no
    * state), equi-joins the static (id, v, cid) assignment on cluster
    * id, and scores each candidate. Returns (qid, id, cos,
    * probe_rank).
    *
    * Because every step is stateless, `queries` may be a STREAMING
    * frame: the result is a stream–static join (the online ANN serving
    * path — see graft.streaming.StreamingPipeline.ivfProbeStream).
    * Top-k selection is left to the consumer: per-query rank needs
    * aggregation, which on a stream belongs in the sink's micro-batch
    * (all of one query's candidates land in its own micro-batch).
    * Literal-path only: the large-k broadcast-relation probe ranks
    * with a window, which streams don't support. */
  def ivfProbeCandidates(queries: DataFrame, queryIdCol: Column,
      queryVec: Column, centroids: Seq[(Int, Seq[Double])],
      assigned: DataFrame, nprobe: Int): DataFrame = {
    require(centroids.size <= AssignLiteralMaxK,
      s"ivfProbeCandidates inlines the model as literals: ${centroids.size}" +
        s" clusters > $AssignLiteralMaxK — use ivfTopKBatch (batch-only) for large k")
    queries
      .select(queryIdCol.as("qid"), queryVec.cast("array<double>").as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(probeExpr(col("qv"), centroids, nprobe)).as(Seq("__pos", "cid")))
      .join(assigned.select(col("cid"), col("id"), col("v")), Seq("cid"))
      .select(col("qid"), col("id"),
        round(cosine(col("v"), col("qv")), 4).as("cos"),
        (col("__pos") + 1).as("probe_rank"))
  }

  /** Shared IVF probe join: (qid, id, cos, __prank) for every corpus
    * vector in any of its query's probed inverted lists, given a
    * trained model and its (id, v, cid) corpus assignment. `__prank`
    * is the 1-based probe rank of the candidate's cluster for that
    * query (1 = the query's nearest list) — a prefix filter on it
    * reproduces a smaller-nprobe probe exactly. */
  private def ivfProbeJoin(assigned: DataFrame,
      query: DataFrame, queryIdCol: Column, queryVec: Column,
      centroids: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val base = assigned
    val qBase = query
      .select(queryIdCol.as("qid"), queryVec.cast("array<double>").as("qv"))
    val q =
      if (centroids.size <= AssignLiteralMaxK)
        qBase
          .select(col("qid"), col("qv"),
            posexplode(probeExpr(col("qv"), centroids, nprobe)).as(Seq("__pos", "cid")))
          .withColumn("__prank", col("__pos") + 1).drop("__pos")
      else {
        // large-k probe: rank the broadcast centroid relation per query
        // row instead of sorting a k-literal array expression. This
        // window is NOT the pair-space class ivfTopKBatch retired
        // (r11): its partition is qid × the MODEL (nClusters rows per
        // query, a fixed constant independent of corpus size), so the
        // sort input never grows with the corpus — the candidate-space
        // ranking downstream is what the TopKAgg heap handles.
        import org.apache.spark.sql.expressions.Window
        val cf = broadcast(centroidFrame(query.sparkSession, centroids))
        qBase.crossJoin(cf)
          .withColumn("__dist",
            lit(1.0) - GraftFunctions.dot(col("qv"), col("__c")) /
              (sqrt(GraftFunctions.dot(col("qv"), col("qv"))) * col("__cn")))
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("__dist"), col("__cid"))))
          .filter(col("__rk") <= nprobe)
          .select(col("qid"), col("qv"), col("__cid").as("cid"),
            col("__rk").as("__prank"))
      }
    base.join(broadcast(q), Seq("cid"))
      .select(col("qid"), col("id"),
        round(cosine(col("v"), col("qv")), 4).as("cos"), col("__prank"))
  }

  /** Approximate top-k via IVF: exact cosine inside the query's
    * `nprobe` nearest inverted lists. Single-query convenience over
    * [[ivfTopKBatch]]. */
  def ivfTopK(corpus: DataFrame, idCol: Column, vecCol: Column,
      query: DataFrame, queryVec: Column, k: Int,
      nClusters: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val qv = query.select(queryVec.cast("array<double>").as("qv"))
    // the unlabeled output schema (id, cos) is only meaningful for one
    // query — a labeled batch goes through ivfTopKBatch directly
    val nq = qv.limit(2).count()
    require(nq == 1,
      s"ivfTopK expects exactly one query row, got $nq" +
        " — use ivfTopKBatch for labeled multi-query search")
    // orderBy+limit (TakeOrderedAndProject), not the per-qid window:
    // one query IS one group, and a constant partition key would move
    // everything to a single window partition.
    val centroids = ivfCentroids(corpus, idCol, vecCol, nClusters, iters)
    ivfProbeJoin(
        assignClusters(
          corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")),
          centroids),
        qv, lit(0L), col("qv"), centroids, nprobe)
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  // ---------------------------------------------------------------
  // Product quantization — the MEMORY half of the ANN scale path
  // (IVF bounds which rows a probe reads; PQ bounds the bytes each
  // row costs). A 64-dim double vector is 512 B; its m=8 BINARY
  // codes are 8 B (64×) plus a shared m×kc×dsub codebook — what makes a 100 TB
  // embedding corpus cache-, shuffle- and memory-affordable. Ranking
  // against a query costs m table lookups per row (the ADC kernel)
  // instead of a dims-length dot.
  //
  // Cosine contract: vectors are unit-normalized BEFORE slicing (so
  // inner product = cosine), then each subspace is k-means'd under
  // L2 with the same determinism discipline as the IVF trainer —
  // md5-seeded init, decimal-mean Lloyd updates, lower-cid ties — so
  // a retrain on the same data is bit-identical under any
  // partitioning. Zero-norm / malformed vectors normalize to null
  // and carry null codes (the kernel's row-uniform null contract);
  // the ADC stage filters them.
  // ---------------------------------------------------------------

  /** A trained PQ codebook: `m` subspaces of `dsub` dims, `kc`
    * centroids each, flat row-major (`(j*kc + c)*dsub + t`). The
    * model is driver-held state like the IVF centroids — m×kc×dsub
    * doubles (default 8×16×8 = 1 KB), broadcast into plans as one
    * referenced object. */
  final case class PqModel(m: Int, kc: Int, dsub: Int,
      codebookFlat: IndexedSeq[Double]) {
    require(codebookFlat.length == m * kc * dsub,
      s"PqModel: flat length ${codebookFlat.length} != m*kc*dsub = ${m * kc * dsub}")
    def dims: Int = m * dsub

    /** Per-query ADC lookup table: lut(j*kc + c) = dot(query subvector
      * j, centroid c of subspace j). The query is unit-normalized here
      * (same contract as the corpus side). */
    def lut(query: Seq[Double]): IndexedSeq[Double] = {
      require(query.length == dims,
        s"query has ${query.length} dims, model expects $dims")
      val n = math.sqrt(query.map(x => x * x).sum)
      require(n > 0.0 && java.lang.Double.isFinite(n),
        "query vector has zero or non-finite norm — cosine is undefined")
      val q = query.map(_ / n)
      val out = new Array[Double](m * kc)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < kc) {
          var s = 0.0
          var t = 0
          while (t < dsub) {
            s += q(j * dsub + t) * codebookFlat((j * kc + c) * dsub + t)
            t += 1
          }
          out(j * kc + c) = s
          c += 1
        }
        j += 1
      }
      out.toIndexedSeq
    }
  }

  /** (id, vn) with vn the UNIT-normalized vector; the norm is a real
    * projected attribute before the transform lambda references it (an
    * expensive subtree INSIDE a HOF lambda re-evaluates per element —
    * the r10 shingle lesson). Zero-norm / non-finite rows get null vn. */
  private def unitNorm(base: DataFrame): DataFrame =
    base
      .withColumn("__n", sqrt(GraftFunctions.dot(col("v"), col("v"))))
      .withColumn("vn",
        when(col("__n") > 0.0 && !isnan(col("__n")),
          transform(col("v"), x => x / col("__n"))))
      .select(col("id"), col("vn"))

  /** Squared-L2 argmin assignment of a subvector frame (id, vs) to
    * literal centroids — `least` over (dist, cid) structs, ties to the
    * lower cid like [[assignExpr]]. The per-row `v·v` term is constant
    * across candidates and dropped (rank-equivalent surrogate
    * `c·c − 2·v·c`). kc ≤ [[AssignLiteralMaxK]] by require, so the
    * literal form never hits the expression-blowup regime. */
  private def l2AssignExpr(vs: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    val cands = centroids.map { case (cid, c) =>
      val cLit = array(c.map(lit): _*)
      struct((lit(c.map(x => x * x).sum) -
        lit(2.0) * GraftFunctions.dot(vs, cLit)).as("dist"),
        lit(cid).as("cid"))
    }
    (if (cands.size == 1) cands.head else least(cands: _*)).getField("cid")
  }

  /** Train a PQ codebook over `corpus`: unit-normalize, slice into `m`
    * subspaces, k-means each under L2. Deterministic (md5-seeded init,
    * decimal-mean updates — identical under any partitioning). The m
    * trainings are independent small jobs; this is train-once model
    * state, like [[ivfCentroids]]. */
  def pqTrain(corpus: DataFrame, idCol: Column, vecCol: Column,
      m: Int = 8, kc: Int = 16, iters: Int = 2, dims: Int = 64): PqModel = {
    require(m > 0 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(kc > 1 && kc <= AssignLiteralMaxK,
      s"kc=$kc out of range (2..$AssignLiteralMaxK)")
    val dsub = dims / m
    val normed = unitNorm(
        corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")))
      .filter(col("vn").isNotNull)
    val flat = Array.newBuilder[Double]
    for (j <- 0 until m) {
      val sub = normed.select(col("id"),
        slice(col("vn"), j * dsub + 1, dsub).as("vs"))
      var centroids: Seq[(Int, Seq[Double])] = sub
        .withColumn("__h", md5(col("id").cast("string").cast("binary")))
        .orderBy(col("__h"), col("id"))
        .limit(kc)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }.toIndexedSeq
      // Name the real problem at its source: a short init sample would
      // otherwise surface much later as PqModel's confusing
      // "flat length != m*kc*dsub" shape require.
      require(centroids.size == kc,
        s"PQ init: corpus has ${centroids.size} usable vectors < kc=$kc " +
          "(after null/zero-norm filtering) — not enough rows to seed " +
          "the per-subspace codebook")
      for (_ <- 0 until iters) {
        val assigned = sub.withColumn("cid", l2AssignExpr(col("vs"), centroids))
        val means = assigned
          .select(col("cid"), posexplode(col("vs")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("x").cast("decimal(38,18)")).cast("double").as("mv"))
          .groupBy(col("cid"))
          .agg(expr("transform(sort_array(collect_list(struct(pos, mv))), s -> s.mv)").as("c"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
          .sortBy(_._1).toIndexedSeq
        val byId = means.toMap
        // clusters that lost all members keep their previous centroid
        centroids = centroids.map { case (cid, c) => (cid, byId.getOrElse(cid, c)) }
      }
      centroids.sortBy(_._1).foreach { case (_, c) => flat ++= c }
    }
    PqModel(m, kc, dsub, flat.result().toIndexedSeq)
  }

  /** (id, codes) for every corpus row — codes are BINARY, one byte
    * per subspace (the persistable 64×-smaller search frame at the
    * m=8/64-dim default). Null codes mark zero-norm / malformed vectors
    * (kept, NOT filtered here: an `isnotnull` over the encode chain
    * would be pushed below the projection and run the kernel twice
    * per row — the r10 plan-audit class; the cheap ADC stage filters
    * instead). */
  def pqEncodeCorpus(corpus: DataFrame, idCol: Column, vecCol: Column,
      model: PqModel): DataFrame =
    unitNorm(corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")))
      .select(col("id"), GraftFunctions.pqEncode(col("vn"),
        model.codebookFlat, model.m, model.kc).as("codes"))

  /** Probe-side shape guard for a PERSISTED codes column: raises at
    * execution when the code count differs from the probing model's
    * `m` — the PQ twin of [[checkedBucket]] (codes trained under a
    * different (m, kc) would otherwise rank garbage or null out
    * silently). Out-of-range codes (kc mismatch) null in the ADC
    * kernel itself. */
  def checkedPqCodes(codesCol: Column, m: Int): Column =
    when(length(codesCol) === m, codesCol).otherwise(raise_error(concat(
      lit(s"pq codes shape mismatch: expected $m codes, got "),
      length(codesCol),
      lit(" — the codes were encoded under a different model; " +
        "re-encode or probe with the model they were built with"))))

  /** Persist a trained PQ model — the same swap-published
    * train-once/serve-many lifecycle as [[saveIvfModel]] (a retrain
    * never exposes a half-written codebook to concurrent probes).
    * One row: (m, kc, dsub, flat codebook). */
  def savePqModel(spark: org.apache.spark.sql.SparkSession, path: String,
      model: PqModel): Unit = {
    import spark.implicits._
    graft.etl.Swap.open(spark, path).publish(
      Seq((model.m, model.kc, model.dsub, model.codebookFlat))
        .toDF("m", "kc", "dsub", "codebook"),
      coalesce = Some(1))()
  }

  /** Load a model written by [[savePqModel]] (recovering an
    * interrupted save first). The PqModel constructor
    * re-validates the shape, so a torn or foreign file fails loudly
    * instead of ranking garbage. */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession,
      path: String): PqModel = {
    val r = graft.etl.Swap.open(spark, path).read()
      .select(col("m"), col("kc"), col("dsub"), col("codebook")).head
    PqModel(r.getInt(0), r.getInt(1), r.getInt(2),
      r.getSeq[Double](3).toIndexedSeq)
  }

  /** The IVF-PQ serving frame (id, cid, codes): coarse cluster id
    * from the IVF centroids (same cosine assignment as every IVF
    * entry point) + PQ codes from the unit-normalized vector. Persist
    * it `partitionBy("cid")` and a probe's `cid IN (...)` filter
    * becomes PARTITION PRUNING — at 100 TB a probe reads nprobe
    * directories of 8-byte codes, not the corpus (IvfPqSpec asserts
    * the pruned scan). */
  def ivfPqIndex(corpus: DataFrame, idCol: Column, vecCol: Column,
      centroids: Seq[(Int, Seq[Double])], model: PqModel): DataFrame = {
    val assigned = assignClusters(
      corpus.select(idCol.as("id"), vecCol.cast("array<double>").as("v")),
      centroids)
    assigned
      .withColumn("__n", sqrt(GraftFunctions.dot(col("v"), col("v"))))
      .withColumn("vn",
        when(col("__n") > 0.0 && !isnan(col("__n")),
          transform(col("v"), x => x / col("__n"))))
      .select(col("id"), col("cid"),
        GraftFunctions.pqEncode(col("vn"), model.codebookFlat,
          model.m, model.kc).as("codes"))
  }

  /** The query's `nprobe` nearest coarse centroids by cosine — the
    * driver-side twin of [[probeExpr]] (same distance, same lower-cid
    * tie-break) for a driver-held query vector. */
  private[graft] def probeCids(query: Seq[Double],
      centroids: Seq[(Int, Seq[Double])], nprobe: Int): Seq[Int] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0.0 && java.lang.Double.isFinite(qn),
      "query vector has zero or non-finite norm — cosine is undefined")
    centroids.map { case (cid, c) =>
      // Guard the centroid side like the query side: zip would silently
      // truncate a dims mismatch, and a zero/non-finite norm would yield
      // a NaN distance that just sorts last — a malformed centroid set
      // must raise, not compute a garbage probe order.
      require(c.length == query.length,
        s"centroid $cid has ${c.length} dims, query has ${query.length}")
      val cn = math.sqrt(c.map(x => x * x).sum)
      require(cn > 0.0 && java.lang.Double.isFinite(cn),
        s"centroid $cid has zero or non-finite norm — cosine is undefined")
      val dot = c.zip(query).map { case (a, b) => a * b }.sum
      (1.0 - dot / (qn * cn), cid)
    }.sorted.take(nprobe).map(_._2)
  }

  // ---- IVF-PQ index maintenance -----------------------------------

  /** The `cid=*` partition dirs directly under `root`. */
  private def cidDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
      .map(_.getPath).toSeq

  /** The leaf publish loop: for each tmp cid dir, delete the live
    * counterpart then rename the tmp dir into place. `failAfter` is
    * the test-only crash injection for the resume invariant. */
  private def leafSwapLoop(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      dirs: Seq[org.apache.hadoop.fs.Path], failAfter: Int): Unit =
    dirs.zipWithIndex.foreach { case (d, i) =>
      if (i >= failAfter)
        throw new IllegalStateException(
          s"ivfPq leaf swap: injected crash after $failAfter swaps")
      fs.delete(new org.apache.hadoop.fs.Path(live, d.getName), true)
      fs.mkdirs(live)
      require(fs.rename(d, new org.apache.hadoop.fs.Path(live, d.getName)),
        s"leaf swap failed for ${d.getName}")
    }

  /** Open an index dir, first resuming an interrupted leaf loop: a
    * complete `_tmp_leaf` holds exactly the unswapped suffix of the
    * crashed fold's touched lists (a completed swap consumes its tmp
    * dir), so the loop finishes verbatim. An INCOMPLETE `_tmp_leaf`
    * (no _SUCCESS — a crash during the tmp write, before any swap) is
    * garbage and is deleted. `Swap.open` covers the one case with no
    * live root at all — a first fold that crashed before its first
    * swap — by promoting the complete tmp whole, which is the same
    * resume. Both folds open through this. */
  private def openIndexDir(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): graft.etl.Swap.Dir = {
    val index = graft.etl.Swap.open(spark, indexDir, "_tmp_leaf")
    val (fs, leafTmp) = (index.fs, leafTmpDir(indexDir))
    if (fs.exists(new org.apache.hadoop.fs.Path(leafTmp, "_SUCCESS")))
      leafSwapLoop(fs, index.path, cidDirs(fs, leafTmp), Int.MaxValue)
    fs.delete(leafTmp, true)
    index
  }

  /** The folds' staging dir (never swapped as a whole). */
  private def leafTmpDir(indexDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(indexDir + "_tmp_leaf")

  /** Fold a new ENCODED batch (vec_id, cid, codes) into a
    * cid-partitioned IVF-PQ index — the add-batch half of the index
    * lifecycle (faiss `add`). Only the cid partitions PRESENT IN THE
    * BATCH are rewritten, so a fold's IO is O(touched lists), not
    * O(index) — at 100 TB an add touching 3 of 10⁴ coarse lists
    * rewrites 3 directories. One atomic rename can't cover many
    * dirs, so correctness rests on two invariants:
    *
    *  - **per-cid UPSERT, not blind union**: each touched list's next
    *    content is (live rows whose vec_id is NOT in the batch) ∪
    *    batch — so re-folding the same batch converges instead of
    *    duplicating, which is what makes every crash point below
    *    safe to replay. Re-adding an existing vec_id therefore
    *    REPLACES its row (an upsert), never duplicates it;
    *  - **resume-recovery of the swap loop**: touched lists move via
    *    delete(live/cid=K) → rename(tmp/cid=K). A crash mid-loop
    *    leaves a _SUCCESS-complete tmp whose REMAINING cid dirs are
    *    exactly the unswapped suffix, so the next call first resumes
    *    that loop verbatim ([[openIndexDir]]), then re-runs the fold
    *    — which the upsert makes a content no-op. Without the resume,
    *    the delete→rename gap would lose a list's NON-batch rows.
    *
    * The applied-batch marker lives in the (never-swapped) index root
    * and is written LAST: a marked (runTag, batchId) returns −1, so
    * at-least-once redelivery short-circuits. Markers are monotone
    * PER TAG (`Swap.Dir.applied`), so adds and removes sharing a
    * runTag interleave under one sequence number line. Fold 0 into a
    * missing index creates it. A reader can observe a
    * partially-applied batch mid-fold (no multi-directory atomicity).
    * `failAfterSwaps` is the test-only crash injection for the loop
    * invariant. Batch vec_ids must be unique (an index key); the
    * batch carries its cid assignment. Returns the touched lists'
    * published row count, or −1 on a marker no-op. */
  def ivfPqAdvance(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, runTag: String, batchId: Long,
      failAfterSwaps: Int = Int.MaxValue): Long = {
    val index = openIndexDir(spark, indexDir)
    val (fs, live, leafTmp) = (index.fs, index.path, leafTmpDir(indexDir))
    if (index.applied(runTag, batchId)) return -1L
    // normalize the batch projection: every fold publishes the same
    // (vec_id, cid int, codes) schema, fold 0 included
    val b = batch.select(col("vec_id"), col("cid").cast("int").as("cid"),
      col("codes"))
    val touched = b.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted // O(touched lists) — model-sized
    val liveTouched =
      if (cidDirs(fs, live).isEmpty) None
      else Some(index.read()
        .select(col("vec_id"), col("cid").cast("int").as("cid"), col("codes"))
        // real partition pruning: only the touched lists are read
        .filter(col("cid").isin(touched.map(Int.box): _*)))
    val next = liveTouched match {
      case None => b
      case Some(old) =>
        old.join(broadcast(b.select(col("vec_id"))), Seq("vec_id"), "left_anti")
          .unionByName(b)
    }
    next.write.mode("overwrite").partitionBy("cid").parquet(leafTmp.toString)
    val rows = spark.read.parquet(leafTmp.toString).count()
    leafSwapLoop(fs, live, cidDirs(fs, leafTmp), failAfterSwaps)
    fs.delete(leafTmp, true)
    // marker LAST, in the never-swapped root (superseded per-tag
    // markers are pruned in place)
    index.markApplied(runTag, batchId)
    rows
  }

  /** The REMOVE half of the index lifecycle (faiss `remove_ids`):
    * tombstones only rewrite the cid partitions they live in, so a
    * GDPR-era delete batch touching 3 of 10⁴ coarse lists rewrites 3
    * directories, not the index. Same two invariants and marker
    * contract as [[ivfPqAdvance]] (a replayed remove must not be
    * re-applied after intervening adds re-insert an id: delete-ness
    * is a POINT in the fold sequence, which is exactly what the
    * monotone marker encodes), and removal is idempotent at the row
    * level (an anti-join of already-cleaned rows is a no-op), so
    * every crash point replays convergently:
    *
    *  - touched lists whose next content is NON-empty move via the
    *    shared delete→rename leaf loop (resume-recovered by
    *    [[openIndexDir]] from the complete tmp's remaining dirs);
    *  - a touched list the remove EMPTIES leaves no dir in tmp — its
    *    live dir is DELETED outright (delete-only phase, before the
    *    loop). These deletes are idempotent and re-derived by the
    *    re-fold on replay, so a crash between them loses nothing.
    *
    * `removeIds` carries `vec_id`, plus OPTIONALLY `cid` — the
    * tombstone's assigned coarse id, which a production caller's
    * reverse lookup usually has. With `cid` present the touched-list
    * set comes from the batch (no index read beyond the touched
    * lists); without it, one column-pruned (vec_id, cid) scan of the
    * index locates the tombstones. A WRONG caller-provided cid leaves
    * that tombstone alive in its real list — omit the column when
    * unsure. The tombstone side of every join is a delete batch —
    * broadcast-sized by construction, so the index never shuffles.
    * Removing from a missing index raises. Returns the touched lists'
    * surviving row count, or −1 on a marker no-op. */
  def ivfPqRemove(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, removeIds: DataFrame, runTag: String, batchId: Long,
      failAfterSwaps: Int = Int.MaxValue): Long = {
    val index = openIndexDir(spark, indexDir)
    val (fs, live, leafTmp) = (index.fs, index.path, leafTmpDir(indexDir))
    if (index.applied(runTag, batchId)) return -1L
    require(cidDirs(fs, live).nonEmpty,
      s"ivfPqRemove: no live index at $indexDir — nothing to remove from")
    val tomb = removeIds.select(col("vec_id"))
    val touched: Array[Int] =
      if (removeIds.columns.contains("cid"))
        removeIds.select(col("cid").cast("int").as("cid")).distinct()
          .collect().map(_.getInt(0)).sorted
      else index.read()
        .select(col("vec_id"), col("cid").cast("int").as("cid"))
        .join(broadcast(tomb), Seq("vec_id"), "left_semi")
        .select(col("cid")).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) {
      // no tombstone lives in the index — the fold is a content no-op,
      // but the batch still gets its marker (redelivery must not rescan)
      index.markApplied(runTag, batchId)
      return 0L
    }
    val next = index.read()
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("codes"))
      .filter(col("cid").isin(touched.map(Int.box): _*))
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    next.write.mode("overwrite").partitionBy("cid").parquet(leafTmp.toString)
    val tmpDirs = cidDirs(fs, leafTmp)
    val rows =
      if (tmpDirs.isEmpty) 0L
      else spark.read.parquet(leafTmp.toString).count()
    // delete-only phase: a fully-emptied touched list has no tmp dir
    // to rename over it — delete the live dir, or the dead rows survive
    val tmpNames = tmpDirs.map(_.getName).toSet
    touched.foreach { c =>
      val name = s"cid=$c"
      if (!tmpNames.contains(name))
        fs.delete(new org.apache.hadoop.fs.Path(live, name), true)
    }
    leafSwapLoop(fs, live, tmpDirs, failAfterSwaps)
    fs.delete(leafTmp, true)
    index.markApplied(runTag, batchId)
    rows
  }

  /** IVF-PQ search: coarse-probe the `nprobe` nearest inverted lists,
    * ADC-rank ONLY those lists' codes, optionally exact-rerank the
    * broadcast survivors — faiss's IVF-PQ shape as a Spark plan. Cost
    * at scale: |corpus|·nprobe/k list rows READ (partition-pruned when
    * the index is cid-partitioned) × 8-byte codes SCANNED × m lookups
    * COMPUTED per row; the exact rerank touches `rerankDepth` vectors.
    * Output matches [[pqTopK]]: (id, cos) when reranked, (id, adc)
    * otherwise. */
  def ivfPqTopK(index: DataFrame, query: Seq[Double], k: Int,
      centroids: Seq[(Int, Seq[Double])], model: PqModel, nprobe: Int = 4,
      rerank: DataFrame = null, rerankIdCol: Column = null,
      rerankVecCol: Column = null, rerankDepth: Int = 0): DataFrame = {
    require(nprobe > 0 && nprobe <= centroids.size,
      s"nprobe=$nprobe out of range (1..${centroids.size})")
    val probed = index.filter(
      col("cid").isin(probeCids(query, centroids, nprobe).map(Int.box): _*))
    pqTopK(probed, col("id"), col("codes"), query, k, model,
      rerank, rerankIdCol, rerankVecCol, rerankDepth)
  }

  /** Approximate top-k over an ENCODED frame (id, codes): rank all
    * rows by the ADC dot (m lookups/row), keep the best
    * max(k, rerankDepth) via TakeOrderedAndProject, then optionally
    * exact-rerank those few against `rerank` (id, vector) rows —
    * broadcast-sized by construction. Output: (id, cos) when
    * reranked, (id, adc) otherwise. The query is a driver-side vector
    * because its lookup table is per-query model state entering the
    * plan as one referenced object (like the IVF centroids). */
  def pqTopK(codes: DataFrame, idCol: Column, codesCol: Column,
      query: Seq[Double], k: Int, model: PqModel,
      rerank: DataFrame = null, rerankIdCol: Column = null,
      rerankVecCol: Column = null, rerankDepth: Int = 0): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val lutFlat = model.lut(query)
    val scored = codes
      .select(idCol.as("id"),
        GraftFunctions.pqAdc(codesCol, lutFlat, model.kc).as("adc"))
      // cheap to evaluate twice if pushed below the projection: the
      // ADC is m array reads, unlike the encode chain
      .filter(col("adc").isNotNull)
    val depth = math.max(k, rerankDepth)
    val top = scored.orderBy(col("adc").desc, col("id")).limit(depth)
    if (rerank == null) top
    else {
      val n = math.sqrt(query.map(x => x * x).sum)
      val qLit = array(query.map(x => lit(x / n)): _*)
      broadcast(top)
        .join(rerank.select(rerankIdCol.as("id"),
          rerankVecCol.cast("array<double>").as("__rv")), Seq("id"))
        .select(col("id"), round(cosine(col("__rv"), qLit), 4).as("cos"))
        .filter(!isnan(col("cos")))
        .orderBy(col("cos").desc, col("id"))
        .limit(k)
    }
  }
}
