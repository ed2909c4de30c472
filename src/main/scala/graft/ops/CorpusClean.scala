package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composition a large-scale
  * training-data preparation run executes, built entirely from the
  * library's own operators so every stage keeps its at-scale plan
  * shape (codegen'd column filters, hash-partitioned dedup,
  * keys-only LSH shuffles, candidate-bounded verify):
  *
  *   1. language filter   (TextAnalysis.langId — codegen'd columns)
  *   2. quality filter    (TextAnalysis.qualityOk)
  *   3. exact dedup       (Dedup.dedupExact — keep lowest id per hash)
  *   4. near-dup dedup    (MinHash+LSH candidates → exact Jaccard
  *                         verify ≥ threshold → greedy keep-lowest-id)
  *   5. decontamination   (optional, when an eval corpus is supplied:
  *                         TrainPrep.decontaminateFromShingles over
  *                         the SAME shingle frame stage 4 built — the
  *                         eval sweep costs no extra corpus scan)
  *   6. boilerplate scrub (optional, `Config.scrubBoilerplate`:
  *                         SubstrDedup.stripRepeatedSpans over the
  *                         survivors — last on purpose, see Config)
  *
  * Near-dup elimination uses the standard greedy rule: a document is
  * dropped when it is the HIGHER id of any verified pair. This keeps
  * exactly the canonical (lowest-id) member of every pairwise-linked
  * group reachable in one hop; unlike full connected components it
  * needs no iteration, and with a verify threshold high enough to
  * imply transitivity in practice it is the common production choice
  * (a CC pass can replace stage 4 without touching stages 1-3).
  *
  * Every stage is lazy; `clean` returns the cleaned corpus plus a
  * per-stage survivor-count frame (computed from the same lazy plans —
  * callers pay for counts only if they evaluate them). EXCEPTION:
  * `useConnectedComponents = true` runs the iterative CC label
  * propagation (eager Spark jobs — localCheckpoint + a convergence
  * probe per round) INSIDE `clean`, forcing the upstream
  * filter/dedup/LSH/verify chain at call time; the greedy default
  * keeps the whole pipeline lazy.
  */
object CorpusClean {

  /** Tuning knobs with the library's defaults.
    *
    * Band-space note (SCALE.md "Fixed-width blocking saturates"): the
    * near-dup stage banding here is MinHash — each band key is the
    * md5 OF the band's hash minima (`Dedup.lshBands`), a 2¹²⁸ value
    * space — so unlike fixed-width SimHash bands or sign-LSH buckets
    * it cannot exhaust as the corpus grows (the r8 sweep measured its
    * max bucket FLAT from ×1 to ×64). The width-sensitive operators
    * (`Dedup.simHashSignatures*`, `Similarity.lshBucket*`) are not on
    * this pipeline; since r9 their library defaults are the wide
    * variants, sized by `Dedup.autoSimHashWidth` /
    * `Similarity.autoBits` when the corpus size is known. */
  case class Config(
      lang: String = "en",
      stopwords: Seq[String] = Seq("a", "the"),
      langThreshold: Double = 0.05,
      minTokens: Int = 30,
      minTtr: Double = 0.3,
      numHashes: Int = 8,
      bands: Int = 2,
      shingleLen: Int = 3,
      jaccardThreshold: Double = 0.8,
      /** true → group verified pairs into connected components and
        * keep one canonical (min-id) doc per component — transitive
        * chains (A≈B≈C with A,C never a pair) collapse fully. false →
        * greedy one-hop (drop the higher id of each pair). */
      useConnectedComponents: Boolean = false,
      /** distinct shared shingles with the eval corpus at which a
        * surviving doc is dropped as contaminated (stage 5; only used
        * when `clean` receives an eval corpus). */
      decontamMinOverlap: Long = 5L,
      /** true → final stage: strip cross-document repeated w-token
        * spans (SubstrDedup boilerplate scrub) from the SURVIVORS.
        * Deliberately last: before whole-document dedup, near-identical
        * documents would mutually shred each other's shared content
        * instead of one canonical copy surviving; after it, whatever
        * still repeats across the (now distinct) survivors is genuine
        * chrome. Requires `textCol` to be a plain column (the scrub
        * rewrites it in place). */
      scrubBoilerplate: Boolean = false,
      boilerplateWindow: Int = 8,
      boilerplateMinDocs: Int = 2)

  /** Result: cleaned docs (original schema) + per-stage counts
    * (stage, docs_in, docs_out). `stageStats` is a thunk: the counting
    * jobs run only when invoked — callers that only want the cleaned
    * corpus never pay for them. `release()` drops every frame the
    * pipeline persists internally: exact-dedup survivors, their
    * shingles, the LSH band table, and (with `scrubBoilerplate`) the
    * pre-scrub survivor frame; call it when done with BOTH the
    * cleaned corpus and the stats. */
  case class Cleaned(docs: DataFrame, stageStats: () => DataFrame,
      release: () => Unit)

  def clean(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config = Config(), evalCorpus: Option[DataFrame] = None): Cleaned = {
    val langKept = docs.filter(
      TextAnalysis.langId(textCol, cfg.stopwords, cfg.lang, cfg.langThreshold) === cfg.lang)
    // stopwords forwarded so both gates read the SAME TokenStats
    // subtree: CombineFilters merges the two filters and CSE leaves
    // one kernel pass per document for language + quality together
    val qualityKept = langKept.filter(
      TextAnalysis.qualityOk(textCol, cfg.minTokens, cfg.minTtr, cfg.stopwords))
    // persisted: the anti-join left side, the shingle scan, and both
    // count paths all read this — without the pin each consumer
    // re-runs the filter+window chain from the raw scan
    val exactKept = Dedup.dedupExact(qualityKept, textCol, idCol).cache()

    // near-dup over the exact-deduped survivors: ONE shingle frame
    // feeds signature/band building AND the Jaccard verify (persisted
    // — the band build and the verify's three consumers share it)
    val sh = Dedup.shingles(exactKept, textCol, idCol, cfg.shingleLen).cache()
    // persisted too: the band table feeds both sides of the candidate
    // self-join AND the candidate-id pass — without the pin the
    // MinHash aggregation over all shingles recomputes up to 3×
    val bands = Dedup.lshBands(
      Dedup.minHashSignaturesFast(sh, cfg.numHashes), cfg.numHashes, cfg.bands)
      .cache()
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val candIds = Dedup.lshCandidateDocIds(bands)
    val verified = Dedup.jaccardFromShingles(sh, Some(cands), Some(candIds))
      .filter(col("jac") >= cfg.jaccardThreshold)
    // drop list (broadcast: bounded by |verified pairs| — LSH-bounded
    // by construction): greedy one-hop, or full connected components
    // when configured (see Config.useConnectedComponents)
    // persisted: drop-list-sized (bounded by |verified pairs|), but
    // its LINEAGE is the candidate self-join + Jaccard verify — the
    // single most expensive sub-plan in clean(). nearKept is consumed
    // up to three times (the eval semi-join, the final anti-join /
    // scrub base, and the stage accounting), and without this pin
    // each consumer re-ran the whole verify: measured at the ×16
    // capstone as 3× the clean stage's shuffle (875 → 2587 MB) once
    // the eval path landed.
    val dropIds =
      (if (cfg.useConnectedComponents)
        Dedup.connectedComponents(verified.select(col("id1"), col("id2")))
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("__drop_id"))
      else verified.select(col("id2").as("__drop_id")).distinct()).cache()
    val nearKept = exactKept.join(broadcast(dropIds),
      idCol === col("__drop_id"), "left_anti")

    // stage 5 (optional): decontaminate the survivors against an eval
    // corpus, reusing the stage-4 shingle frame — restricting it to
    // survivors is a semi-join below the distinct, so the sweep costs
    // |survivor shingles| + |eval shingles|, never a new corpus scan
    val finalKept = evalCorpus match {
      case None => nearKept
      case Some(ev) =>
        val survivorSh = sh.join(
          nearKept.select(idCol.as("__keep_id")),
          col("id") === col("__keep_id"), "left_semi")
        // rebind by NAME for the foreign eval frame: a caller passing
        // frame-bound columns (docs("text")) would otherwise fail
        // analysis when the same Column is applied to evalCorpus
        val evalSh = Dedup.shingles(ev, rebind(textCol), rebind(idCol),
          cfg.shingleLen)
        val contaminated = TrainPrep.decontaminateFromShingles(
            survivorSh, evalSh, cfg.decontamMinOverlap)
          .select(col("id").as("__drop_id"))
        nearKept.join(broadcast(contaminated),
          idCol === col("__drop_id"), "left_anti")
    }

    // final stage (optional): boilerplate scrub over the survivors —
    // rewrites the text column in place, schema unchanged. The
    // survivor frame feeds span detection twice (spread count +
    // island join) and scrubSpans twice more (docs + span side), so
    // the pipeline PERSISTS it before scrubbing: without the pin the
    // full upstream chain (near-dedup candidate join × jaccard ×
    // decontamination) is duplicated 4× in every downstream physical
    // plan — observed to blow planning (AQE's explainString alone
    // OOM'd) once an eval corpus made the chain deep enough.
    // validate BEFORE registering the cache: a require failure throws
    // out of clean() with no reachable release(), so nothing may be
    // newly pinned on that path
    if (cfg.scrubBoilerplate) {
      // the guard must inspect the EXPRESSION, not the output name: a
      // derived column aliased back to its source name
      // (lower(col("text")).as("text")) passes a name check and the
      // scrub then silently overwrites the original column with a
      // scrub of the TRANSFORMED text
      import org.apache.spark.sql.graft.ColumnBridge
      require(ColumnBridge.isPlainAttribute(textCol),
        s"scrubBoilerplate requires a PLAIN text column (the scrub " +
          s"rewrites it in place); got expression $textCol — materialize " +
          "the derived text as a real column first")
      val name = finalKept.select(textCol).columns.head
      require(finalKept.columns.contains(name),
        s"scrubBoilerplate requires a plain text column, got $name")
    }
    val scrubBase =
      if (cfg.scrubBoilerplate) finalKept.cache() else finalKept
    val scrubbed =
      if (!cfg.scrubBoilerplate) finalKept
      else {
        // resolve the text column's OUTPUT name against the survivor
        // frame — works for plain and frame-bound columns alike (a
        // derived expression was rejected by the require above)
        val name = scrubBase.select(textCol).columns.head
        SubstrDedup.stripRepeatedSpans(scrubBase, textCol, idCol,
            cfg.boilerplateWindow, cfg.boilerplateMinDocs)
          .withColumn(name, col("text_clean")).drop("text_clean")
      }

    Cleaned(scrubbed,
      () => stageCounts(docs, textCol, cfg, exactKept, nearKept,
        if (evalCorpus.isDefined) Some(scrubBase) else None),
      () => {
        bands.unpersist(); sh.unpersist(); exactKept.unpersist()
        dropIds.unpersist()
        if (cfg.scrubBoilerplate) scrubBase.unpersist()
      })
  }

  /** The pipeline's per-stage accounting in TWO actions — the
    * declared q_corpus_clean surface (4 rows of (stage, docs_in,
    * docs_out) + the survivor-set md5).
    *
    * [[clean]]+`stageStats()`+a digest aggregate answer the same
    * question with FIVE eager actions (one agg over the raw corpus,
    * two counts over cached survivor frames, the digest, plus four
    * cache builds), each launching its own job tree over the cached
    * boundaries — measured at ~146 stages / 5-6 s at sf0.1 while the
    * data work itself is sub-second (r15 verdict #2: the cost was
    * accounting orchestration, not the pipeline). A SINGLE lazy plan
    * is not the answer either: Catalyst plans trees, not DAGs, so
    * with the shared frames inlined the shingle/minhash/band subtrees
    * multiply combinatorially (the probe plan carried 82 Window
    * nodes and benched WORSE than the eager form — exactly the
    * blowup clean()'s internal pins exist to stop). The shape that
    * works:
    *
    * Action 1 — the DROP LIST, one bounded eager phase: flag columns
    * (the same codegen'd langId/quality kernels the pipeline filters
    * on) + the keep-first window over (qual_ok, fingerprint) — within
    * the qual=true slice that is exactly `Dedup.dedupExact` over the
    * quality survivors — then ONE internal cache of the exact
    * survivors' row-local projection (id, distinct shingle set,
    * MinHash minima — the codegen MinHashMinima kernel, no explode,
    * no aggregation). Band keys, the bucket self-join candidates, and
    * the candidate-restricted Jaccard verify (array_intersect over
    * the two cached shingle sets — same math as the shingle-count
    * form, pinned by AccountingParitySpec) all read that one cache;
    * the verified pairs' higher ids land in the drop list and the
    * cache is dropped before returning, so nothing outlives the
    * call. The drop list is GATHERED or PUBLISHED by size
    * (`dropListThreshold`): a `limit(threshold+1)` probe collects it
    * when it fits — the DROP-LIST class, bounded by |verified
    * pairs|, LSH-bounded by construction, the same bound that
    * justifies clean()'s broadcast anti-join — and otherwise (the
    * pathological near-dup corpus where |verified pairs| ~ |corpus|)
    * swap-publishes the ids as parquet under `dropListDir` the way
    * `cleanedSurvivorIdsPath` publishes the keep set, so the list
    * never touches the driver. Everything that shuffles here is
    * (id, hash)-shaped or candidate-bounded.
    *
    * Action 2 — the returned LAZY frame: flags + window again (the
    * one text-bearing exchange, pre-tokenization __fp — the gated
    * contract), a left-outer against the drop list (broadcast when
    * gathered; a distributed hash join against the published parquet
    * when spilled), and ONE final aggregate producing all four
    * survivor counts AND the survivor digest (collect_list of the
    * near-keep ids — identical expression to the clean()-path
    * digest), then a `stack` unpivot into the 4-row stage frame.
    *
    * Net: the flag/window chain runs twice (once per action), the
    * LSH chain once over the cache — ~20 stages total vs ~146.
    *
    * Greedy near-dedup only (the library default):
    * `useConnectedComponents` needs the iterative eager CC loop —
    * callers wanting CC accounting compose [[clean]]'s thunks
    * instead. No decontamination stage (pass an eval corpus to
    * [[clean]] for that path). AccountingParitySpec pins equality
    * with the [[clean]]-derived numbers at every stage — through
    * BOTH drop-list arms.
    *
    * `dropListThreshold`: max drop ids gathered to the driver (the
    * default, 4M longs ≈ 32 MB, is comfortably broadcast-sized);
    * above it the ids are swap-published as parquet and joined
    * distributed. `dropListDir`: where the spilled list publishes —
    * on a LOCAL master it defaults to a dir under the per-JVM
    * scratch root (`etl.Scratch`, deleted at JVM exit), but on a
    * real cluster that default is driver-local: executors would
    * write their task files to their OWN disks under the same path
    * and the published list would be partial — a silent drop
    * undercount. So a non-local master
    * REQUIRES an explicit, cluster-visible dir up front (r17 ADVICE;
    * fail-fast at entry, not after the expensive probe action). */
  /** The [[accounting]] entry guard, pure so the spec can pin both
    * arms without a non-local SparkContext: a cluster master with no
    * explicit `dropListDir` is rejected — the JVM-temp fallback is a
    * driver-local path executors cannot publish to coherently, and
    * the failure mode is a silently partial drop list (wrong counts,
    * no error), the worst kind. Local mode keeps the temp default. */
  private[graft] def validateDropListDir(masterIsLocal: Boolean,
      dropListDir: Option[String]): Unit =
    require(masterIsLocal || dropListDir.nonEmpty,
      "accounting: a non-local master requires an explicit " +
        "cluster-visible dropListDir — the JVM-temp default is " +
        "driver-local, and a spilled drop list published there would " +
        "be silently partial (executors write task files to their own " +
        "disks). Pass dropListDir under a shared filesystem " +
        "(warehouse/checkpoint dir).")

  def accounting(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config = Config(), dropListThreshold: Int = 4000000,
      dropListDir: Option[String] = None): DataFrame = {
    require(dropListThreshold >= 0, "dropListThreshold must be >= 0")
    validateDropListDir(docs.sparkSession.sparkContext.isLocal, dropListDir)
    require(!cfg.useConnectedComponents,
      "accounting() is the one-job greedy form; CC accounting must " +
        "compose clean()'s eager thunks")
    val spark = docs.sparkSession
    val langOk = TextAnalysis.langId(
      textCol, cfg.stopwords, cfg.lang, cfg.langThreshold) === cfg.lang
    val qualOk = langOk &&
      TextAnalysis.qualityOk(textCol, cfg.minTokens, cfg.minTtr, cfg.stopwords)
    // one window over (qual_ok, fingerprint): the qual=true slice
    // reproduces dedupExact's keep-first exactly (same partition
    // contents, same orderBy); the qual=false rows ride along as
    // their own partitions and are never flagged exact-keep
    def ranked: DataFrame = docs
      .withColumn("__lang_ok", langOk)
      .withColumn("__qual_ok", qualOk)
      .withColumn("__fp", md5(textCol.cast("binary")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qual_ok"), col("__fp")).orderBy(idCol)))
    val exactKeep = col("__qual_ok") &&
      (col("__fp").isNull || col("__rn") === 1)

    // ---- action 1: the drop list ----
    // row-local projection per exact survivor: distinct shingle set +
    // all MinHash minima in one kernel pass (min over the distinct
    // set equals min over the occurrence multiset). Short docs (<
    // shingleLen tokens) carry null shset/minima and fall out of the
    // band explode below, matching Dedup.shingles emitting nothing.
    val d = ranked.filter(exactKeep)
      .select(idCol.as("id"),
        array_distinct(Dedup.shingleArray(textCol, cfg.shingleLen)).as("shset"))
      .select(col("id"), col("shset"),
        graft.functions.GraftFunctions.minHashMinima(
          col("shset"), cfg.numHashes).as("__mh"))
      .cache()
    val dropSide: DataFrame =
      try {
        // the SHARED minima→band-hash construction (r16 ADVICE: this
        // was an inline re-implementation; any change to Dedup's
        // banding would have silently diverged the declared
        // accounting from the clean() pipeline it describes)
        val bands = Dedup.bandKeysFromMinima(
          d, col("id"), col("__mh"), cfg.numHashes, cfg.bands)
        // NO distinct on the pair list (r19, guide §2.4 — the same
        // reasoning as the exploded-id distinct removed r17): a pair
        // matching in BOTH bands appears ≤ `bands` times, and every
        // consumer is duplicate-insensitive — the semi-join build side
        // below, and the drop list re-distincts after the verify — so
        // the dedup exchange bought nothing but its own stage. Cost
        // moved: duplicate pairs re-verify (row-local array_intersect
        // over the cached sets, ≤ ×bands); cost removed: one full
        // exchange + AQE stage of the pair list per invocation.
        // Measured (isolated min-of-9, sf0.1, idle): 0.874 → 0.776 s,
        // 50 → 42 stages (the dedup exchange was re-listed by every
        // downstream AQE job over it), shuffle 0.961 → 0.943 MB,
        // values identical (burnin + AccountingParitySpec).
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2"))
        // restrict the cached shingle sets to candidate docs BEFORE
        // any join that could shuffle them: candDocs is LSH-bounded,
        // so derived-text bytes never move at corpus volume
        // no distinct on the exploded ids: a LEFT SEMI join's output
        // is unaffected by duplicate build-side keys, the broadcast
        // stays ≤ 2|cand| ids either way, and the distinct was a
        // whole extra exchange + AQE stage job per invocation (r17
        // stage-floor work)
        val candIdFrame = cand
          .select(explode(array(col("id1"), col("id2"))).as("id"))
        val candDocs = d.join(broadcast(candIdFrame), Seq("id"), "left_semi")
          .select(col("id"), col("shset"))
        val verified = cand
          .join(candDocs.select(col("id").as("id1"), col("shset").as("s1")), "id1")
          .join(candDocs.select(col("id").as("id2"), col("shset").as("s2")), "id2")
          .withColumn("__inter",
            size(array_intersect(col("s1"), col("s2"))).cast("long"))
          .withColumn("jac", col("__inter") /
            (size(col("s1")).cast("long") + size(col("s2")).cast("long")
              - col("__inter")))
          .filter(col("jac") >= cfg.jaccardThreshold)
        val dropIdsDf = verified.select(col("id2").as("__drop_id")).distinct()
        // size-probed gather-or-publish: the limit(threshold+1) probe
        // reads the verify chain once, and when the list fits the
        // probe IS the gather (a limit that returns fewer rows than
        // asked has returned the COMPLETE set — deterministic).
        // initialNumPartitions pinned for the take's duration:
        // executeTake's default 1→4→16… scale-up re-schedules the
        // (shuffle-reused) upstream stages per retry — measured +12
        // counted stages of pure limit retries at sf0.1 — while one
        // all-partitions job reads the same final exchange once.
        val confKey = "spark.sql.limit.initialNumPartitions"
        val prevConf = spark.conf.getOption(confKey)
        val probe =
          try {
            spark.conf.set(confKey, Int.MaxValue.toString)
            dropIdsDf.limit(dropListThreshold + 1)
              .collect().map(_.getLong(0))
          } finally prevConf match {
            case Some(v) => spark.conf.set(confKey, v)
            case None => spark.conf.unset(confKey)
          }
        if (probe.length <= dropListThreshold) {
          import spark.implicits._
          broadcast(probe.toSeq.sorted.toDF("__drop_id"))
        } else {
          // the spilled arm (r16 verdict #4): a pathological near-dup
          // corpus makes |verified pairs| ~ |corpus| and the gather
          // unbounded — swap-publish the ids once (complete-or-absent
          // under the _SUCCESS-gated rename) and join DISTRIBUTED;
          // the driver never holds the list
          val dir = dropListDir.getOrElse(graft.etl.Scratch.dir("droplist"))
          val ids = graft.etl.Swap.open(spark,
            new org.apache.hadoop.fs.Path(dir, "ids").toString)
          ids.publish(dropIdsDf)()
          ids.read()
        }
      } finally d.unpersist()

    // ---- action 2: the returned lazy accounting frame ----
    val nearKeep = exactKeep && col("__drop_id").isNull
    val row = ranked
      .join(dropSide, idCol === col("__drop_id"), "left_outer")
      .agg(
        count(lit(1)).as("total"),
        coalesce(sum(col("__lang_ok").cast("long")), lit(0L)).as("n_lang"),
        coalesce(sum(col("__qual_ok").cast("long")), lit(0L)).as("n_qual"),
        coalesce(sum(exactKeep.cast("long")), lit(0L)).as("n_exact"),
        coalesce(sum(nearKeep.cast("long")), lit(0L)).as("n_near"),
        // identical expression to the clean()-path digest: md5 of the
        // comma-joined ascending id list (collect_list skips the
        // nulls when() emits for non-survivors)
        md5(concat_ws(",",
          transform(array_sort(collect_list(when(nearKeep, idCol))),
            x => x.cast("string"))).cast("binary")).as("survivors_md5"))
    row.select(
      expr("stack(4, 'language', total, n_lang, " +
        "'quality', n_lang, n_qual, " +
        "'exact_dedup', n_qual, n_exact, " +
        "'near_dedup', n_exact, n_near) AS (stage, docs_in, docs_out)"),
      col("survivors_md5"))
  }

  /** A plain attribute Column re-expressed as an unresolved name, so
    * it can resolve against a DIFFERENT frame with the same column
    * name; non-attribute expressions pass through unchanged (they
    * could never have been frame-bound to begin with). */
  private def rebind(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.expression(c) match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        // backtick-quote (with embedded backticks doubled): a flat
        // name containing '.' must not be reparsed as a qualifier /
        // nested-field path
        col("`" + a.name.replace("`", "``") + "`")
      case _ => c
    }
  }

  /** Per-stage survivor counts: the language and quality numbers come
    * from ONE pass over the raw corpus (conditional sums — the filters
    * are pure codegen'd columns), the dedup numbers from the persisted
    * survivor frames, so no stage's chain re-runs more than once. */
  private def stageCounts(raw: DataFrame, textCol: Column, cfg: Config,
      exact: DataFrame, near: DataFrame,
      decontaminated: Option[DataFrame] = None): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val langOk = TextAnalysis.langId(
      textCol, cfg.stopwords, cfg.lang, cfg.langThreshold) === cfg.lang
    val qualOk = langOk &&
      TextAnalysis.qualityOk(textCol, cfg.minTokens, cfg.minTtr, cfg.stopwords)
    // coalesce: sum() over ZERO rows is null, and getLong on a null
    // field NPEs — an empty corpus must report zeros, not crash
    val row = raw.agg(
      count(lit(1)).as("total"),
      coalesce(sum(langOk.cast("long")), lit(0L)).as("n_lang"),
      coalesce(sum(qualOk.cast("long")), lit(0L)).as("n_qual")).head
    val (total, nLang, nQual) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val nExact = exact.count()
    val nNear = near.count()
    val base = Seq(
      ("language", total, nLang),
      ("quality", nLang, nQual),
      ("exact_dedup", nQual, nExact),
      ("near_dedup", nExact, nNear))
    val rows = decontaminated match {
      case Some(fin) => base :+ (("decontaminate", nNear, fin.count()))
      case None => base
    }
    rows.toDF("stage", "docs_in", "docs_out")
  }
}
