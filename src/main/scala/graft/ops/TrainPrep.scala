package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set preparation operators: deterministic dataset splits
  * and fixed-token-budget sequence packing — the two assignment steps
  * between a cleaned corpus (`CorpusClean`) and a training run.
  *
  * Both are pure column/window logic: no shuffle beyond the one the
  * semantics require (split: none — a row-local hash; packing: one
  * hash exchange on the shard key), no driver-side state, and
  * deterministic under retry/partitioning because every decision is a
  * function of row values only.
  */
object TrainPrep {

  /** Key column rendered md5-hashable: Spark only permits
    * STRING→BINARY casts, so a numeric "durable id" key passed
    * directly would fail analysis. Casting through string first is a
    * no-op for string keys (hashes — and therefore existing splits —
    * are unchanged) and makes numeric/date keys legal. The string
    * rendering is Spark's canonical CAST, stable across versions for
    * integral types. */
  private def hashableKey(key: Column): Column =
    key.cast("string").cast("binary")

  /** Deterministic split label ("train" / "test" / "val") from the md5
    * of a key column — the standard content-hash split: stable across
    * runs, machines, and partitionings; re-running the pipeline with
    * more data never moves an existing document between splits
    * (md5(key) is fixed), which leakage-free eval depends on.
    *
    * `valCut`/`testCut` are 2-hex-digit thresholds on the hash prefix:
    * hex-lexicographic compare, so "0d" ≈ 13/256 ≈ 5.1% val,
    * "0d".."29" ≈ 28/256 ≈ 10.9% test, rest train. Fractions are
    * EXPECTED values — exact per-corpus counts vary with the hash, as
    * with every hash split.
    *
    * Scale: row-local expression — no shuffle, no state; survives any
    * partitioning. Split on a STABLE key (content hash or durable id),
    * never a position-derived one. */
  def splitLabel(key: Column, valCut: String = "0d", testCut: String = "29"): Column = {
    // the cuts compare lexicographically against lowercase-hex md5 —
    // an uppercase or non-hex cut would silently skew the split
    // fractions ("0D" < every digit-leading hash ≈ an empty val split)
    val hexPrefix = "^[0-9a-f]{1,32}$".r
    require(hexPrefix.findFirstIn(valCut).isDefined &&
        hexPrefix.findFirstIn(testCut).isDefined,
      s"cuts must be lowercase-hex md5 prefixes, got '$valCut' / '$testCut'")
    require(valCut < testCut, s"valCut '$valCut' must sort below testCut '$testCut'")
    val fp = md5(hashableKey(key))
    // a null key would fall through every when() into 'train' —
    // silent, and exactly the leak the hash split exists to prevent
    // (the same doc later backfilled with a real key can land in
    // val/test). Fail loudly instead.
    when(fp.isNull, raise_error(lit(
        "splitLabel: null split key — filter or fill keys first " +
        "(a null would silently land in 'train')")))
      .when(fp < lit(valCut), "val")
      .when(fp < lit(testCut), "test")
      .otherwise("train")
  }

  /** Greedy fixed-budget sequence packing: documents are taken in
    * `orderCol` order within each `shardCol` group, and a document is
    * assigned to bin `floor(tokens_before_it / budget)` — the bin its
    * FIRST token lands in (bins may overflow past the budget at the
    * boundary document; packing that splits documents is a tokenizer
    * concern, not an assignment concern).
    *
    * `orderCol` must be UNIQUE within each shard (the same §7.3
    * total-order rule every window in the library follows): the
    * running token sum is a ROWS-frame over `orderBy(orderCol)`, and
    * tied rows near a budget boundary would swap cumulative sums —
    * and bins — across retries/partitionings, breaking the
    * determinism contract below. Use the durable doc id.
    *
    * Returns the input plus (shard, bin) columns.
    *
    * Scale: packing is inherently sequential in the pack order, so the
    * sequentiality is confined to a SHARD (one window partition) and
    * shards run in parallel — the standard corpus-sharding shape. One
    * exchange on the shard key; the running sum is a single ordered
    * window, O(rows) per shard. A global (unsharded) pack is a
    * one-partition window — fine for a demo, a bottleneck at scale;
    * PlanSpec-style gates should always see a real shard key here. */
  def packBins(df: DataFrame, shardCol: Column, orderCol: Column,
      tokCol: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    // withColumn silently REPLACES same-named input columns — fail
    // loudly instead of corrupting caller data under the output/temp
    // names this operator owns
    val reserved = Seq("shard", "bin", "__tok", "__cum").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"packBins reserves output/temp column names ${reserved.mkString(", ")}; " +
        "rename them in the input first")
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shardCol)
      .withColumn("__tok", tokCol.cast("long"))
      .withColumn("__cum", sum(col("__tok")).over(w))
      // integer `div`: exact bin ids at any magnitude (a double floor
      // would lose exactness past 2^52 total tokens per shard)
      .withColumn("bin", expr(s"(__cum - __tok) div $budget"))
      .drop("__cum", "__tok")
  }

  /** Write the corpus as UP TO `numShards` parquet shard files
    * (hash-partitioning writes no file for an empty partition — a
    * corpus with fewer distinct keys than shards, or a skewed hash,
    * yields fewer files; loaders must enumerate the directory, never
    * index shards 0..numShards-1 by name) with
    * the two locality properties a training loader wants: every row of
    * one `keyCol` value lands in ONE shard (key locality — a loader
    * can hold per-key state without cross-file merges), and rows
    * within a shard file are stored sorted by (`keyCol`, `orderCol`)
    * (sequential reads stream each key's rows in order).
    *
    * Scale: this is `repartition(hash(key))` + `sortWithinPartitions`
    * — ONE hash exchange and per-partition local sorts. The naive
    * spelling (global `orderBy(key, order)` then write) pays a range
    * exchange whose skew is the hottest key and serializes the tail;
    * local sorts of hash-balanced shards are the shape that survives
    * 100 TB. TrainPrepSpec asserts both file properties and that the
    * plan carries no global Sort. */
  def exportShards(df: DataFrame, path: String, keyCol: Column,
      orderCol: Column, numShards: Int): Unit = {
    require(numShards > 0, "numShards must be positive")
    df.repartition(numShards, keyCol)
      .sortWithinPartitions(keyCol, orderCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic stratified sampling: keep a hash-stable fraction of
    * each stratum. `fractions` maps stratum value → keep probability;
    * strata absent from the map are dropped. Unlike `df.stat.sampleBy`
    * (seeded RNG over row ORDER — different partitioning, different
    * sample) the decision is a pure function of `keyCol`'s content, so
    * the sample is reproducible across runs, partitionings, and
    * cluster sizes, and a row never flaps in/out as the corpus grows.
    *
    * Mechanics: md5(key) is uniform in [0, 16^4) on its 4-hex-char
    * prefix; keep when prefix < round(fraction · 65536) rendered as a
    * 4-hex threshold — the same hex-compare trick as [[splitLabel]],
    * so fractions are exact to 1/65536. Row-local → no shuffle. */
  def stratifiedSample(df: DataFrame, stratumCol: Column, keyCol: Column,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val fp = md5(hashableKey(keyCol)).substr(1, 4)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      val v = math.round(f * 65536.0).min(65536L)
      // v = 65536 (f = 1.0) keeps the whole stratum — there is no
      // 4-hex threshold above every prefix, so special-case it; all
      // other thresholds compare 4 chars against 4 chars exactly
      val cond =
        if (v >= 65536L) stratumCol === stratum
        else stratumCol === stratum && fp < lit(f"$v%04x")
      acc || cond
    }
    df.filter(keep)
  }

  /** Overlapping fixed-size token-window chunking — the context-window
    * preparation step between a cleaned corpus and tokenization (and
    * the RAG indexing shape): each document becomes one row per window
    * of `chunkSize` tokens, windows starting every `chunkSize -
    * overlap` tokens. Returns (id, chunk_start, n_tok, chunk_text);
    * the final (short) window is kept — padding/truncation is a
    * tokenizer concern.
    *
    * Scale: row-local generate (explode of an O(n_tok/stride) start
    * array) — no shuffle, no state; output size is input tokens ×
    * chunkSize/stride, the unavoidable overlap amplification, and the
    * explode streams through whole-stage codegen without
    * materializing per-document chunk lists.
    *
    * Tail semantics with `overlap > 0`: chunk starts advance by the
    * stride until the LAST token is covered, so a document ending
    * inside the previous chunk's overlap region emits one or more
    * short tail chunks fully CONTAINED in the previous chunk (e.g.
    * 25 tokens at chunkSize=32/overlap=8 → starts 0 and 24; the
    * 1-token chunk at 24 is a sub-span of the chunk at 0). This is
    * the common fixed-stride contract (and what the declared oracle
    * pins); consumers that must not index duplicate spans should
    * drop chunks whose end does not extend past the previous
    * chunk's. */
  def chunkTokens(df: DataFrame, textCol: Column, idCol: Column,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap $overlap must be in [0, chunkSize)")
    val stride = (chunkSize - overlap).toLong
    df.select(idCol.as("id"), split(textCol, " ").as("__w"))
      .select(col("id"), col("__w"),
        explode(sequence(
          lit(0L), (size(col("__w")) - 1).cast("long"), lit(stride)))
          .as("chunk_start"))
      .select(col("id"), col("chunk_start"),
        slice(col("__w"), col("chunk_start").cast("int") + 1, lit(chunkSize))
          .as("__c"))
      .select(col("id"), col("chunk_start"),
        size(col("__c")).cast("long").as("n_tok"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Deterministic corpus mixing: replicate each stratum by a
    * (possibly fractional) epoch weight — the dataset-mixture step of
    * a training run (e.g. upsample a high-quality source 2.25×, keep
    * wikipedia at 1.0, downsample crawl to 0.5). A weight `e` emits
    * `floor(e)` full copies of every row plus one extra copy of a
    * hash-stable `e - floor(e)` fraction (same 4-hex-prefix threshold
    * as [[stratifiedSample]], exact to 1/65536); strata absent from
    * the map are dropped. Adds an `epoch` column (0-based copy index)
    * so downstream shuffling can salt on it.
    *
    * Deterministic by construction: which rows get the fractional
    * extra copy is a pure function of `keyCol`'s content, so the mix
    * is reproducible across runs, partitionings, and cluster sizes.
    *
    * Scale: row-local explode — no shuffle; the amplification factor
    * is exactly the mixture weight, and replication happens inside the
    * scan's codegen stage, never through a join. */
  def mixCorpus(df: DataFrame, stratumCol: Column, keyCol: Column,
      epochs: Map[String, Double]): DataFrame =
    mixCorpusFp(df, stratumCol, keyFingerprint(keyCol), epochs)

  /** The 4-hex-digit hash fingerprint [[mixCorpus]] and
    * [[stratifiedSample]] threshold against — public so a caller can
    * PRECOMPUTE it, project the wide key column away, and replicate
    * only narrow rows: `mixCorpus` amplifies every column by the
    * mixture weight, so exploding (id, stratum, fingerprint) instead
    * of (…, full document text) keeps the generate stage's bytes at
    * ~tens per copy regardless of document size. */
  def keyFingerprint(keyCol: Column): Column =
    md5(hashableKey(keyCol)).substr(1, 4)

  /** [[mixCorpus]] with the fractional-copy fingerprint already
    * computed (must be [[keyFingerprint]] of a stable key for the
    * determinism contract to hold). */
  def mixCorpusFp(df: DataFrame, stratumCol: Column, fpCol: Column,
      epochs: Map[String, Double]): DataFrame = {
    require(epochs.values.forall(e => e >= 0.0 && e <= 1000.0),
      "epoch weights must be in [0, 1000]")
    val fp = fpCol
    val copies = epochs.foldLeft(lit(0L)) { case (acc, (stratum, e)) =>
      val whole = math.floor(e).toLong
      val frac = math.round((e - whole) * 65536.0).min(65536L)
      val extra =
        if (frac <= 0L) lit(0L)
        else if (frac >= 65536L) lit(1L)
        else when(fp < lit(f"$frac%04x"), 1L).otherwise(0L)
      when(stratumCol === stratum, lit(whole) + extra).otherwise(acc)
    }
    // filter BEFORE sequence: sequence(0, -1) would flip to a
    // descending step-(-1) range, not an empty one
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__copies") - 1, lit(1L))))
      .drop("__copies")
  }

  /** Temperature-scaled mixture weights from stratum sizes — the
    * standard multi-domain/multilingual sampling rule p_i ∝ n_i^α:
    * α = 1 keeps natural proportions, α = 0 equalizes strata, values
    * between damp the head domains and boost the tail. Returns the
    * per-stratum epoch weights that make stratum i contribute
    * `budgetRows · n_i^α / Σ n_j^α` expected rows when fed to
    * [[mixCorpus]] (weights are expected-copy factors and may exceed
    * 1 for upsampled tail strata).
    *
    * Cost: ONE count aggregate over the corpus; the per-stratum math
    * is driver-side on |strata| rows — the collected "model", same
    * lifecycle as the IVF centroids. */
  def temperatureWeights(df: DataFrame, stratumCol: Column,
      alpha: Double, budgetRows: Long,
      maxWeight: Double = 1000.0): Map[String, Double] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    require(budgetRows > 0, s"budgetRows must be positive, got $budgetRows")
    require(maxWeight > 0, s"maxWeight must be positive, got $maxWeight")
    // cast to string so non-string stratum columns (int domain ids,
    // dates) don't throw at collect; null strata are rejected rather
    // than silently becoming a map key no mixCorpus lookup matches
    val sizes = df.groupBy(stratumCol.cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          "temperatureWeights: stratum column contains null — filter or " +
            "fill strata before weighting (a null key would never match " +
            "a mixCorpus lookup)")
        r.getString(0) -> r.getLong(1)
      }.toMap
    val mass = sizes.values.map(n => math.pow(n.toDouble, alpha)).sum
    // clamp to the downstream mixer's replication bound: a tiny tail
    // stratum under a large budget can demand a per-row copy factor
    // beyond mixCorpus's [0, 1000] domain, which would throw at plan
    // build. A clamped stratum receives maxWeight·n rows instead of
    // its temperature share — raise maxWeight deliberately if your
    // mixer allows more replication.
    sizes.map { case (s, n) =>
      s -> math.min(maxWeight,
        budgetRows * math.pow(n.toDouble, alpha) / mass / n.toDouble)
    }
  }

  /** Decontamination: training documents sharing ≥ `minOverlap`
    * DISTINCT word n-grams with the eval corpus — the standard
    * benchmark-leakage sweep run before training. Returns
    * (id, n_overlap) rows for the contaminated training docs; anti-join
    * the result against the training set to drop them.
    *
    * Scale shape: both sides reduce to DISTINCT (doc, shingle) /
    * (shingle) sets BEFORE the join — per-document repetition never
    * reaches the exchange, and the eval side carries |distinct eval
    * shingles| (eval corpora are benchmark-sized, so Catalyst/AQE
    * broadcasts it in practice). The join exchanges shingle keys, the
    * overlap count is one partial+final aggregate on the training doc
    * id. Stopword-dominated hot shingles are deduped per side, so the
    * worst key fan-out is |train docs containing it| — the same bound
    * as any inverted-index build. */
  def decontaminate(train: DataFrame, eval: DataFrame,
      textCol: Column, idCol: Column,
      shingleLen: Int = 3, minOverlap: Long = 5L): DataFrame =
    decontaminateFromShingles(
      Dedup.shingles(train, textCol, idCol, shingleLen),
      Dedup.shingles(eval, textCol, idCol, shingleLen).select(col("s")),
      minOverlap)

  /** Per-eval-TASK contamination report — the audit a training run
    * publishes alongside the decontamination sweep: for each task in
    * the eval suite, how many training documents overlap it (≥
    * `minOverlap` distinct shared shingles), how badly, and how many
    * eval shingles are touched at all. `taskCol` labels the eval rows
    * (benchmark name / split); the train side never shuffles wider
    * than in [[decontaminate]] — the (shingle → task) map rides the
    * same broadcast as the eval shingle set, and the per-(doc, task)
    * overlap is one partial+final aggregate.
    *
    * Output: (task, n_docs_flagged, max_overlap, avg_overlap,
    * n_eval_shingles, n_eval_shingles_hit) — `hit` counts eval
    * shingles seen in ANY training doc (a leak-surface measure even
    * where no single doc crosses `minOverlap`). */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      textCol: Column, idCol: Column, taskCol: Column,
      shingleLen: Int = 3, minOverlap: Long = 5L): DataFrame =
    contaminationReportFromShingles(
      Dedup.shingles(train, textCol, idCol, shingleLen)
        .select(col("id"), col("s")).distinct(),
      // (task, s) distinct per task — a shingle may belong to many tasks
      eval.select(taskCol.as("task"),
          explode(Dedup.shingleArray(textCol, shingleLen)).as("s"))
        .distinct(),
      minOverlap)

  /** The report core over pre-built shingle frames: `trainShingles` is
    * distinct (id, s), `evalShingles` distinct (task, s). This is the
    * REPEATED-audit entry point: pair it with the persisted eval
    * registry ([[advanceEvalRegistry]]) so the nightly contamination
    * audit reads O(|eval shingles|) registry rows instead of
    * re-shingling every eval corpus per run — the same
    * registry-lifecycle contract as `SubstrDedup.stripAgainstRegistry`.
    * {{{
    * TrainPrep.advanceEvalRegistry(spark, regPath, mmlu, col("text"), lit("mmlu"))
    * TrainPrep.advanceEvalRegistry(spark, regPath, gsm8k, col("text"), lit("gsm8k"))
    * // every audit afterwards — eval text never re-read:
    * val report = TrainPrep.contaminationReportFromShingles(
    *   Dedup.shingles(train, col("text"), col("doc_id")).select("id", "s").distinct(),
    *   spark.read.parquet(regPath), minOverlap = 5L)
    * }}} */
  def contaminationReportFromShingles(trainShingles: DataFrame,
      evalShingles: DataFrame, minOverlap: Long = 5L): DataFrame = {
    val tsh = trainShingles
    val esh = evalShingles.select(col("task"), col("s"))
    val joined = tsh.join(broadcast(esh), "s")
    val perDocTask = joined.groupBy(col("task"), col("id"))
      .agg(count(lit(1)).as("n_overlap"))
    val flagged = perDocTask.filter(col("n_overlap") >= minOverlap)
      .groupBy(col("task")).agg(
        count(lit(1)).as("n_docs_flagged"),
        max(col("n_overlap")).as("max_overlap"),
        avg(col("n_overlap")).as("avg_overlap"))
    // derived from the broadcast join already computed above — the
    // earlier semi-join formulation put the corpus-sized distinct
    // train-shingle set on a second shuffle pass for a number that is
    // exactly countDistinct(s) per task over `joined`
    val surface = joined.groupBy(col("task"))
      .agg(countDistinct(col("s")).as("n_eval_shingles_hit"))
    val totals = esh.groupBy(col("task"))
      .agg(count(lit(1)).as("n_eval_shingles"))
    totals
      .join(flagged, Seq("task"), "left")
      .join(surface, Seq("task"), "left")
      .na.fill(0L, Seq("n_docs_flagged", "max_overlap", "n_eval_shingles_hit"))
      .na.fill(0.0, Seq("avg_overlap"))
      .select(col("task"), col("n_docs_flagged"), col("max_overlap"),
        col("avg_overlap"), col("n_eval_shingles"),
        col("n_eval_shingles_hit"))
  }

  /** Fold an eval corpus (or a new benchmark's delta) into the
    * persisted eval-shingle registry at `statePath`: distinct
    * (task, s) rows, swap-published (crash-safe via `etl.Swap`, same
    * lifecycle as `SubstrDedup.advanceSpread`; cross-store contract:
    * REGISTRIES.md). Returns the registry row count.
    *
    * Unlike the spread registry this fold is IDEMPOTENT by
    * construction — the state is a distinct SET, so re-feeding a task
    * (an at-least-once feed, a re-released benchmark) cannot double
    * anything and no batch markers are needed. Registry size is
    * O(distinct eval shingles) — benchmark-sized, the broadcast side
    * of every audit. Repeated audits against it read the registry
    * parquet only; eval corpora are never re-shingled
    * (TrainPrepSpec gates the audit plan's scan set). */
  def advanceEvalRegistry(spark: org.apache.spark.sql.SparkSession,
      statePath: String, evalDelta: DataFrame, textCol: Column,
      taskCol: Column, shingleLen: Int = 3): Long = {
    val registry = graft.etl.Swap.open(spark, statePath)
    val deltaSh = evalDelta.select(taskCol.as("task"),
        explode(Dedup.shingleArray(textCol, shingleLen)).as("s"))
      .distinct()
    registry.publish(
      registry.live.fold(deltaSh)(_.unionByName(deltaSh).distinct()))(
      _.count())
  }

  /** [[decontaminate]] over pre-computed shingle rows: `trainShingles`
    * is (id, s) for the training side, `evalShingles` any frame with an
    * `s` column for the eval side. Use this form when a shared shingle
    * table already exists (one corpus scan feeding dedup AND
    * decontamination — the pipeline shape at scale). */
  def decontaminateFromShingles(trainShingles: DataFrame,
      evalShingles: DataFrame, minOverlap: Long = 5L,
      trainDistinct: Boolean = false,
      broadcastEval: Boolean = true): DataFrame = {
    // trainDistinct: callers holding a materialized deduplicated
    // shingle index (the decontamination-service shape) assert the
    // train side is already distinct per (id, s), skipping a full
    // re-shuffle of the big side per sweep. The eval side is always
    // re-distinct-ed: its input is per-DOC distinct, but the overlap
    // join needs shingle-level distinctness across eval docs.
    val t0 = trainShingles.select(col("id"), col("s"))
    val tsh = if (trainDistinct) t0 else t0.distinct()
    val esh = evalShingles.select(col("s")).distinct()
    // The eval side is benchmark-sized BY CONTRACT (held-out splits /
    // eval suites, not a second corpus). Two scale-correct join sides:
    //  - broadcastEval = true (default, one-shot sweep): broadcast the
    //    distinct eval shingle set; the train corpus never shuffles on
    //    the shingle key. Cached-frame size estimates otherwise push
    //    Spark to a sort-merge join that exchanges + sorts the full
    //    train side per sweep.
    //  - broadcastEval = false (repeated sweeps over a PERSISTED
    //    shingle index partitioned on `s`, the declared query's cache
    //    discipline): both sides are already co-partitioned, so the
    //    plain join is exchange-free — cheaper than re-building a
    //    broadcast per sweep.
    tsh.join(if (broadcastEval) broadcast(esh) else esh, "s")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }
}
