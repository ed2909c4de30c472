package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composition a large-scale
  * training-data preparation run executes, built entirely from the
  * library's own operators so every stage keeps its at-scale plan
  * shape (codegen'd column filters, hash-partitioned dedup,
  * keys-only LSH shuffles, candidate-bounded verify):
  *
  *   1. language filter   (TextAnalysis.langId — codegen'd columns)
  *   2. quality filter    (TextAnalysis.qualityOk)
  *   3. exact dedup       (keep the lowest id per md5 fingerprint)
  *   4. near-dup dedup    (MinHash+LSH candidates → exact Jaccard
  *                         verify ≥ threshold → greedy keep-lowest-id)
  *   5. decontamination   (optional, when an eval corpus is supplied:
  *                         TrainPrep.decontaminateFromShingles over
  *                         the SAME shingle sets stage 4 cached — the
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
  * (`useConnectedComponents` swaps in a CC pass without touching
  * stages 1-3).
  *
  * ONE pipeline behind both entry points — [[clean]] (the cleaned
  * corpus) and [[accounting]] (the declared per-stage counts plus the
  * survivor digest) — built from the same four private steps:
  *  - [[flagged]]: stage flags as columns (`__lang_ok`, `__qual_ok`)
  *    plus the keep-first window over (`__qual_ok`, `__fp`);
  *    [[ExactKeep]] marks the exact survivors.
  *  - [[nearDupPairs]]: verified (id1, id2) pairs over ONE cached
  *    row-local projection of the exact survivors.
  *  - [[dropList]]: the size-guarded drop list — gathered and
  *    broadcast when it fits `Config.dropListThreshold`, swap-published
  *    as parquet and joined distributed when it does not.
  *  - [[stageFrame]]: every stage count plus the survivor digest in
  *    one aggregate over the flags ⟕ drop list.
  *
  * The drop-list step is EAGER (its size probe is an action): each
  * entry point runs the near-dup chain — and, in [[clean]], the CC
  * rounds and the eval sweep when configured — at call time, then
  * drops the shingle-set cache before returning. What comes back is
  * lazy: the survivor frame and the stage counts read only the
  * corpus and the (gathered or published) drop lists.
  */
object CorpusClean {

  /** Tuning knobs with the library's defaults.
    *
    * Band-space note (SCALE.md "Fixed-width blocking saturates"): the
    * near-dup stage banding here is MinHash — each band key is the
    * md5 OF the band's hash minima (`Dedup.bandKeysFromMinima`), a
    * 2¹²⁸ value space — so unlike fixed-width SimHash bands or
    * sign-LSH buckets it cannot exhaust as the corpus grows (the r8
    * sweep measured its max bucket FLAT from ×1 to ×64). The
    * width-sensitive operators (`Dedup.simHashSignatures`,
    * `Similarity.lshBucket*`) are not on this pipeline; since r9 their
    * library defaults are the wide variants, sized by
    * `Dedup.autoSimHashWidth` / `Similarity.autoBits` when the corpus
    * size is known. */
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
      boilerplateMinDocs: Int = 2,
      /** max drop ids gathered to the driver (the default, 4M longs ≈
        * 32 MB, is comfortably broadcast-sized); above it the ids are
        * swap-published as parquet and joined distributed. */
      dropListThreshold: Int = 4000000,
      /** where a spilled drop list publishes; None → a dir under the
        * per-JVM scratch root (`etl.Scratch`), allowed on a local
        * master only (see [[validateDropListDir]]). */
      dropListDir: Option[String] = None)

  /** Result: cleaned docs (original schema) + per-stage counts
    * (stage, docs_in, docs_out). `stageStats` is a thunk: the counting
    * jobs run only when invoked — callers that only want the cleaned
    * corpus never pay for them. `release()` drops the pre-scrub
    * survivor frame `scrubBoilerplate` persists; call it when done
    * with BOTH the cleaned corpus and the stats. */
  case class Cleaned(docs: DataFrame, stageStats: () => DataFrame,
      release: () => Unit)

  def clean(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config = Config(), evalCorpus: Option[DataFrame] = None): Cleaned = {
    checkEntry(docs, cfg)
    // validate BEFORE any work: the drop-list step runs jobs, and a
    // require failure after it would have paid them for nothing
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
      val name = docs.select(textCol).columns.head
      require(docs.columns.contains(name),
        s"scrubBoilerplate requires a plain text column, got $name")
    }
    val sets = shingleSets(docs, textCol, idCol, cfg).cache()
    val (nearDrops, evalDrops) =
      try {
        val near = nearDupDrops(sets, cfg)
        // stage 5 (optional): the survivors' shingles are the cached
        // sets minus the near-dup drops — |survivor shingles| +
        // |eval shingles|, never a new corpus scan. The sets are
        // per-doc distinct already, so the sweep skips its re-distinct.
        val contaminated = evalCorpus.map { ev =>
          val survivorSh = sets.join(near, col("id") === col("__drop_id"), "left_anti")
            .select(col("id"), explode(col("shset")).as("s"))
          // rebind by NAME for the foreign eval frame: a caller passing
          // frame-bound columns (docs("text")) would otherwise fail
          // analysis when the same Column is applied to evalCorpus
          val evalSh = ev.select(
            explode(Dedup.shingleArray(rebind(textCol), cfg.shingleLen)).as("s"))
          dropList(TrainPrep.decontaminateFromShingles(survivorSh, evalSh,
              cfg.decontamMinOverlap, trainDistinct = true)
            .select(col("id").as("__drop_id")), cfg, "contaminated")
        }
        (near, contaminated)
      } finally sets.unpersist()
    def without(kept: DataFrame, drops: DataFrame) =
      kept.join(drops, idCol === col("__drop_id"), "left_anti")
    val nearKept = without(flagged(docs, textCol, idCol, cfg).filter(ExactKeep)
      .drop("__lang_ok", "__qual_ok", "__fp", "__rn"), nearDrops)
    val finalKept = evalDrops.fold(nearKept)(without(nearKept, _))

    // final stage (optional): boilerplate scrub over the survivors —
    // rewrites the text column in place, schema unchanged. The
    // survivor frame feeds span detection twice (spread count +
    // island join) and scrubSpans twice more (docs + span side), so
    // the pipeline PERSISTS it before scrubbing: without the pin each
    // of the four consumers re-runs the flag kernels, the keep-first
    // window and the anti-joins from the raw scan.
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
      () => {
        val stages = stageFrame(flagged(docs, textCol, idCol, cfg), nearDrops, idCol)
          .select(col("stage"), col("docs_in"), col("docs_out"))
        if (evalCorpus.isEmpty) stages
        else {
          val spark = docs.sparkSession
          import spark.implicits._
          val rows = stages.as[(String, Long, Long)].collect()
          (rows :+ (("decontaminate", rows.last._3, scrubBase.count()))).toSeq
            .toDF("stage", "docs_in", "docs_out")
        }
      },
      () => if (cfg.scrubBoilerplate) scrubBase.unpersist())
  }

  /** The pipeline's per-stage accounting in TWO actions — the
    * declared q_corpus_clean surface (4 rows of (stage, docs_in,
    * docs_out) + the survivor-set md5). Greedy near-dedup only (the
    * library default) and no decontamination stage: pass an eval
    * corpus or `useConnectedComponents` to [[clean]] and read its
    * `stageStats` instead.
    *
    * Action 1 is the shared drop-list step: the exact survivors'
    * row-local projection is cached once, [[nearDupPairs]] verifies
    * over it, and [[dropList]] gathers or publishes the verified
    * pairs' higher ids by size; the cache is dropped before
    * returning. Action 2 is the returned LAZY frame, [[stageFrame]]:
    * flags + window again (the one text-bearing exchange,
    * pre-tokenization `__fp` — the gated contract), a left-outer
    * against the drop list (broadcast when gathered; a distributed
    * hash join against the published parquet when spilled), and ONE
    * aggregate producing all four survivor counts AND the survivor
    * digest.
    *
    * Why two actions: [[clean]]'s pre-merge form answered the same
    * question with FIVE eager actions, ~146 stages / 5-6 s at sf0.1
    * while the data work itself is sub-second (r15 verdict #2); a
    * SINGLE lazy plan inlines the shared frames and Catalyst plans
    * trees, not DAGs — the probe plan carried 82 Window nodes and
    * benched worse. Net: the flag/window chain runs twice, the LSH
    * chain once over the cache — ~20 stages total. */
  def accounting(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config = Config()): DataFrame = {
    checkEntry(docs, cfg)
    require(!cfg.useConnectedComponents,
      "accounting() is the one-job greedy form; CC accounting must " +
        "compose clean()'s eager thunks")
    val sets = shingleSets(docs, textCol, idCol, cfg).cache()
    val dropSide = try nearDupDrops(sets, cfg) finally sets.unpersist()
    stageFrame(flagged(docs, textCol, idCol, cfg), dropSide, idCol)
  }

  /** The entry guard of both entry points: a cluster master with no
    * explicit `dropListDir` is rejected up front — the scratch-root
    * fallback is a driver-local path, executors would write their task
    * files to their OWN disks under it, and a spilled drop list
    * published there would be silently partial (wrong counts, no
    * error — the worst kind). Local mode keeps the scratch default.
    * Pure, so the spec pins both arms without a non-local
    * SparkContext. */
  private[graft] def validateDropListDir(masterIsLocal: Boolean,
      dropListDir: Option[String]): Unit =
    require(masterIsLocal || dropListDir.nonEmpty,
      "CorpusClean: a non-local master requires an explicit " +
        "cluster-visible dropListDir — the scratch-root default is " +
        "driver-local, and a spilled drop list published there would " +
        "be silently partial (executors write task files to their own " +
        "disks). Pass dropListDir under a shared filesystem " +
        "(warehouse/checkpoint dir).")

  private def checkEntry(docs: DataFrame, cfg: Config): Unit = {
    require(cfg.dropListThreshold >= 0, "dropListThreshold must be >= 0")
    validateDropListDir(docs.sparkSession.sparkContext.isLocal, cfg.dropListDir)
  }

  /** Stages 1-3 as columns: `__lang_ok`, `__qual_ok` (the same
    * codegen'd kernels a filter would run — stopwords forwarded so
    * both gates read ONE TokenStats subtree) and the keep-first
    * window over (`__qual_ok`, `__fp`): within the qual=true slice
    * that is keep-lowest-id per md5 fingerprint over the quality
    * survivors; qual=false rows ride along as their own partitions
    * and are never exact-kept. A null text (null `__fp`) has no
    * comparable content and is never anyone's duplicate. */
  private def flagged(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config): DataFrame = {
    val langOk = TextAnalysis.langId(
      textCol, cfg.stopwords, cfg.lang, cfg.langThreshold) === cfg.lang
    val qualOk = langOk &&
      TextAnalysis.qualityOk(textCol, cfg.minTokens, cfg.minTtr, cfg.stopwords)
    docs
      .withColumn("__lang_ok", langOk)
      .withColumn("__qual_ok", qualOk)
      .withColumn("__fp", md5(textCol.cast("binary")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qual_ok"), col("__fp")).orderBy(idCol)))
  }

  /** The exact survivors of a [[flagged]] frame. */
  private val ExactKeep: Column =
    col("__qual_ok") && (col("__fp").isNull || col("__rn") === 1)

  /** Row-local (id, shset, __mh) per exact survivor: the
    * `Dedup.shingleSets` distinct set + all MinHash minima in one
    * kernel pass (min over the distinct set equals min over the
    * occurrence multiset) — no explode, no aggregation. Short docs
    * (< shingleLen tokens) carry null shset/minima and fall out of the
    * band explode. Callers cache it: bands, the verify and the eval
    * sweep all read it. */
  private def shingleSets(docs: DataFrame, textCol: Column, idCol: Column,
      cfg: Config): DataFrame =
    Dedup.shingleSets(flagged(docs, textCol, idCol, cfg).filter(ExactKeep),
        textCol, idCol, cfg.shingleLen)
      .select(col("id"), col("shset"),
        graft.functions.GraftFunctions.minHashMinima(
          col("shset"), cfg.numHashes).as("__mh"))

  /** Verified near-dup pairs (id1 < id2, Jaccard ≥ threshold) over
    * [[shingleSets]]: the shared minima→band-hash construction, the
    * library's one bucket self-join (`Dedup.bandPairs`) and its one
    * verify (`Dedup.jaccardPairs`), which restricts the candidate
    * docs' sets BEFORE any join that could shuffle them (derived-text
    * bytes never move at corpus volume). Everything that shuffles is
    * (id, hash)-shaped or candidate-bounded.
    *
    * NO distinct on the pair list (r19, guide §2.4): a pair matching
    * in BOTH bands appears ≤ `bands` times, the verify scores each row
    * on its own, and the drop ids re-distinct after it. Cost moved:
    * duplicate pairs re-verify (≤ ×bands, row-local); cost removed:
    * one exchange + AQE stage per invocation (sf0.1 isolated min-of-9:
    * 0.874 → 0.776 s, 50 → 42 stages, values identical). */
  private def nearDupPairs(sets: DataFrame, cfg: Config): DataFrame = {
    val bands = Dedup.bandKeysFromMinima(
      sets, col("id"), col("__mh"), cfg.numHashes, cfg.bands)
    Dedup.jaccardPairs(sets, Dedup.bandPairs(bands))
      .filter(col("jac") >= cfg.jaccardThreshold)
      .select(col("id1"), col("id2"))
  }

  /** The near-dup drop list: the higher id of each verified pair
    * (greedy), or every non-canonical member of a connected
    * component (`useConnectedComponents` — eager label propagation,
    * its checkpoint blocks freed once the list is gathered or
    * published). */
  private def nearDupDrops(sets: DataFrame, cfg: Config): DataFrame = {
    val pairs = nearDupPairs(sets, cfg)
    if (!cfg.useConnectedComponents)
      dropList(pairs.select(col("id2").as("__drop_id")).distinct(), cfg)
    else {
      val comps = Dedup.connectedComponents(pairs)
      try dropList(comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("__drop_id")), cfg)
      finally Dedup.freeCheckpointBlocks(comps)
    }
  }

  /** A (`__drop_id`) frame, GATHERED or PUBLISHED by size: a
    * `limit(threshold+1)` probe reads the chain once, and when the
    * list fits the probe IS the gather (a limit that returns fewer
    * rows than asked has returned the COMPLETE set) and the ids come
    * back as a broadcast local frame — the drop-list class, bounded
    * by |verified pairs|. Otherwise (the pathological near-dup corpus
    * where |verified pairs| ~ |corpus|, r16 verdict #4) the ids are
    * swap-published once under `dropListDir`/`name`
    * (complete-or-absent under the _SUCCESS-gated rename) and read
    * back for a DISTRIBUTED join; the driver never holds the list.
    * The probe is a take over `drops`' own executed plan, so the
    * publish re-executes only that plan's last stage, reading the
    * shuffle output the probe left behind: the band self-join and the
    * verify behind `drops` run once in either arm. */
  private def dropList(drops: DataFrame, cfg: Config,
      name: String = "ids"): DataFrame = {
    val spark = drops.sparkSession
    // initialNumPartitions pinned for the take's duration:
    // executeTake's default 1→4→16… scale-up re-schedules the
    // (shuffle-reused) upstream stages per retry — measured +12
    // counted stages of pure limit retries at sf0.1 — while one
    // all-partitions job reads the same final exchange once.
    val confKey = "spark.sql.limit.initialNumPartitions"
    val prevConf = spark.conf.getOption(confKey)
    val qe = drops.queryExecution
    val probe =
      try {
        spark.conf.set(confKey, Int.MaxValue.toString)
        SQLExecution.withNewExecutionId(qe, Some("collect"))(
          qe.executedPlan.executeTake(cfg.dropListThreshold + 1)).map(_.getLong(0))
      } finally prevConf match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    if (probe.length <= cfg.dropListThreshold) {
      import spark.implicits._
      broadcast(probe.toSeq.sorted.toDF("__drop_id"))
    } else {
      val dir = cfg.dropListDir.getOrElse(graft.etl.Scratch.dir("droplist"))
      val ids = graft.etl.Swap.open(spark,
        new org.apache.hadoop.fs.Path(dir, name).toString)
      ids.publish(spark.createDataFrame(
        qe.executedPlan.execute().map(r => Row(r.getLong(0))), drops.schema))()
      ids.read()
    }
  }

  /** Every stage count plus the survivor digest in ONE aggregate over
    * a [[flagged]] frame ⟕ the near-dup drop list, unpivoted into the
    * 4-row (stage, docs_in, docs_out, survivors_md5) frame. The
    * digest is md5 of the comma-joined ascending near-survivor ids
    * (collect_list skips the nulls when() emits for non-survivors). */
  private def stageFrame(flags: DataFrame, drops: DataFrame,
      idCol: Column): DataFrame = {
    val nearKeep = ExactKeep && col("__drop_id").isNull
    // coalesce: sum() over ZERO rows is null — an empty corpus must
    // report zeros
    val row = flags
      .join(drops, idCol === col("__drop_id"), "left_outer")
      .agg(
        count(lit(1)).as("total"),
        coalesce(sum(col("__lang_ok").cast("long")), lit(0L)).as("n_lang"),
        coalesce(sum(col("__qual_ok").cast("long")), lit(0L)).as("n_qual"),
        coalesce(sum(ExactKeep.cast("long")), lit(0L)).as("n_exact"),
        coalesce(sum(nearKeep.cast("long")), lit(0L)).as("n_near"),
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
}
