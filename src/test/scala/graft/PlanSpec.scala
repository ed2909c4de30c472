package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates (SURVEY §4.2): the properties that make
  * these plans survive a 100 TB scale-up, asserted as tests so a
  * regression in plan shape fails CI, not a cluster run.
  *
  *  - predicates/column pruning reach the parquet scan
  *  - tiny dimension sides broadcast (no fact-table shuffle)
  *  - order+limit plans as top-k (TakeOrderedAndProject), never a
  *    total sort
  *  - the vector kernel stays inside codegen (no CodegenFallback
  *    interpretation on the pair-join hot path)
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String = {
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfTiny)

  /** Count PHYSICAL shuffle exchanges in a plan string: lines whose
    * node (after the tree-drawing prefix) is a ShuffleExchange —
    * `Exchange hashpartitioning/rangepartitioning/SinglePartition`.
    * A bare contains("Exchange") also matches `ReusedExchange` lines
    * (r15 ADVICE): a plan that legitimately REUSES its one exchange
    * would double-count and fail a ==1 gate spuriously — or, paired
    * with a reuse, mask a real second shuffle. `BroadcastExchange`
    * and `ReusedExchange` don't start their node text with
    * "Exchange ", so the prefix match excludes both. */
  private def shuffleExchanges(p: String): Int =
    p.linesIterator.count { l =>
      val node = l.dropWhile(c => !c.isLetter && c != '*')
        .dropWhile(_ == '*').dropWhile(c => c == '(' || c.isDigit || c == ')')
      node.trim.startsWith("Exchange ")
    }

  test("q_filter_range pushes predicates into the parquet scan") {
    val p = plan(q("q_filter_range"))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_returnflag)") || p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_scan_project prunes to the projected columns only") {
    val p = plan(q("q_scan_project"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"), readSchema)
  }

  test("dimension joins broadcast (no shuffle of the big side)") {
    for (name <- Seq("q_join_inner_equi", "q_join_hashkey", "q_join_left_year")) {
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), s"$name:\n$p")
    }
    val pc = plan(q("q_join_broadcast_const"))
    assert(pc.contains("BroadcastNestedLoopJoin"), pc)
  }

  test("q_star_schema: dims broadcast; ONE range exchange carries window AND total order") {
    // the reference-parity capstone's 100 TB contract, tightened in
    // r17: the fact side shuffles EXACTLY once — a range exchange on
    // the surrogate key that satisfies both the window's clustering
    // and the terminal (IndexKey, DateKey) total order via the prefix
    // rule (rangePartitionForStarSort; the old plan paid window-hash
    // PLUS sort-range, i.e. the whole fact through two exchanges) —
    // and every dim rides a broadcast, so scaling the fact 1000× adds
    // no new exchange. The terminal Sort must elide COMPLETELY.
    val df = q("q_star_schema")
    df.collect() // finalize AQE
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000)) // constant-predicate country join
    assert(!p.take(6000).contains("SortMergeJoin"),
      s"a dim join fell back to shuffle:\n${p.take(3000)}")
    assert(p.contains("rangepartitioning(IndexKey"), p.take(3000))
    // no exchange above the window subtree: the sort's exchange is
    // gone, and the window did not re-insert a hash over the range
    assert(!p.take(6000).contains("hashpartitioning(IndexKey"),
      s"the window re-inserted a hash exchange over the range layout:\n${p.take(3000)}")
    val lines = p.linesIterator.toSeq
    val windowLine = lines.indexWhere(_.contains("Window"))
    assert(windowLine >= 0, p.take(3000))
    assert(!lines.take(windowLine).exists(l =>
        l.trim.stripPrefix("+- ").stripPrefix("*(").dropWhile(_.isDigit)
          .stripPrefix(") ").startsWith("Sort")),
      s"a sort survived above the window:\n${p.take(3000)}")
  }

  test("q_bucket_join: zero hash Exchange — the bucketed layout carries the join") {
    // both sides are bucketed on the join key (bucketJoinTables memo),
    // so the sort-merge join needs NO Exchange on either side; the
    // only exchange in the whole plan is the final single-row
    // aggregate's SinglePartition gather. A hashpartitioning Exchange
    // appearing here means the bucketed-scan → join distribution
    // contract broke (bucket count drift, hint loss, pruned bucketing)
    val p = plan(q("q_bucket_join"))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$p")
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q_dashboard_slice: the ticker predicate runs below the window") {
    // the Charts-page slice filters the window's PARTITION key, so
    // Catalyst must push it below the WindowExec — at 100 TB only the
    // selected series is windowed, not the whole fact. Assert order in
    // the executed plan text: a Filter mentioning the ticker predicate
    // appears BELOW (after, in toString's top-down rendering) the
    // Window node.
    val p = plan(q("q_dashboard_slice"))
    val lines = p.linesIterator.toSeq
    // anchor on the WindowExec NODE (toString renders it as
    // "Window […]"; \bWindow\b cannot match WindowsSpec-ish substrings
    // or column names containing Window), not the first line that
    // merely mentions the word
    val winIdx = lines.indexWhere(l => "\\bWindow\\b".r.findFirstIn(l).isDefined)
    assert(winIdx >= 0, s"no Window node in plan:\n$p")
    // the Ticker = '^GSPC' predicate constant-folds against the CASE
    // mapping into the specific `o_custkey % 4` arithmetic filter —
    // anchor on that predicate TEXT so a future pushed runtime filter
    // or second Window node can't satisfy the gate for the wrong
    // reason (r14 ADVICE)
    val foldedFilterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("o_custkey") && l.contains("% 4"))
    assert(foldedFilterIdx > winIdx,
      s"constant-folded o_custkey % 4 ticker filter must sit below the Window:\n$p")
    // and no FILTER anywhere compares the ticker STRING — the literals
    // fold to true/false branches; a '^GSPC' surviving in a Filter
    // means the constant fold regressed ('^GSPC' legitimately appears
    // in the Ticker-building CASE projection, so only Filters count)
    assert(!lines.exists(l => l.contains("Filter") && l.contains("^GSPC")),
      s"ticker predicate failed to constant-fold through the CASE mapping:\n$p")
  }

  test("bench action executes the declared plan (count() provably prunes the windows)") {
    // r15 (r14 verdict #1): Bench times + byte-counts
    // `df.queryExecution.toRdd.count()` — the query's OWN physical
    // plan. This gate proves the distinction matters and pins the
    // convention: the capstone's declared plan carries BOTH window
    // passes (lag return + rolling volatility), while the
    // count()-derived plan that Bench used through r14 prunes them
    // (a count references no projection, so Catalyst eliminates the
    // Window nodes wholesale). benchAction executes df.queryExecution
    // by construction, so "counted plan == declared plan" holds
    // exactly when this test's first assertion does.
    // count in the FINAL plan only — AdaptiveSparkPlan's toString
    // appends the initial plan, which would double-count (q_profile
    // gate precedent)
    def windows(df: DataFrame): Int =
      "\\bWindow\\b".r.findAllIn(plan(df).split("== Initial Plan ==").head).length
    val df = q("q_star_schema")
    Bench.benchAction(df) // finalize AQE on the declared plan
    assert(windows(df) == 2,
      s"capstone's declared plan must carry its 2 window passes:\n${plan(df)}")
    // the trap, demonstrated: the derived count plan drops both
    val counted = q("q_star_schema").groupBy().count()
    counted.collect()
    assert(windows(counted) == 0,
      "count() no longer prunes the windows — revisit whether benchAction still needs toRdd")
  }

  test("corpus-clean pipeline: text never enters an exchange after tokenization") {
    // q_corpus_clean's 100 TB contract: past the shingle explode,
    // everything that shuffles is (id, hash)-shaped — MinHash minima,
    // band keys, Jaccard counts — and the near-dup drop list applies
    // as a BROADCAST anti-join. The single legitimate text-bearing
    // exchange is the exact-dedup keep-first window, keyed on the md5
    // fingerprint (__fp), which runs BEFORE tokenization. Any other
    // exchange carrying the text column means document bodies are
    // moving across the cluster.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.col
    val docs = queries.t(spark, sfTiny, "documents")
      .select(col("doc_id"), col("text"))
    val cleaned = graft.ops.CorpusClean.clean(docs, col("text"), col("doc_id"))
    try {
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case o => o +: o.children.flatMap(walk)
      }
      val textExchanges = walk(cleaned.docs.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e }
      assert(textExchanges.size <= 1,
        s"expected at most the exact-dedup fingerprint exchange to carry text:\n" +
          textExchanges.mkString("\n"))
      assert(textExchanges.forall(_.toString.contains("__fp")),
        s"a text-bearing exchange is not the pre-tokenization __fp window:\n" +
          textExchanges.mkString("\n"))
    } finally cleaned.release()
  }

  test("q_corpus_clean declared frame: one text exchange (the __fp window), nothing post-tokenization") {
    // the r16 accounting shape: the returned lazy plan is flags +
    // keep-first window + a broadcast left-outer against the
    // (bounded) drop list + ONE aggregate — its only text-bearing
    // exchange is the pre-tokenization (qual_ok, __fp) window
    // shuffle; the LSH/Jaccard subtrees live in the eager drop-list
    // phase and never appear here
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case qs: QueryStageExec => qs +: walk(qs.plan)
      case o => o +: o.children.flatMap(walk)
    }
    val df = q("q_corpus_clean")
    val textExchanges = walk(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e }
    assert(textExchanges.size <= 1,
      s"expected at most the __fp window exchange to carry text:\n" +
        textExchanges.mkString("\n"))
    assert(textExchanges.forall(_.toString.contains("__fp")),
      s"a text-bearing exchange is not the pre-tokenization __fp window:\n" +
        textExchanges.mkString("\n"))
  }

  test("q_train_pipeline: no exchange carries document text") {
    // the derivation's 100 TB contract: the survivors come from the
    // cleanedCorpus memo's semi-join against the swap-published
    // survivor-id parquet (broadcast at test scale — the ids file is
    // tiny — a doc_id shuffle at corpus scale), the split gate is
    // a row-local hash, and everything that shuffles into the pack
    // window is (doc_id, shard_key, n_tok)-shaped — text is projected
    // away BEFORE the exchange. A text-bearing exchange here means
    // document bodies are moving across the cluster to be counted.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case qs: QueryStageExec => qs +: walk(qs.plan)
      case o => o +: o.children.flatMap(walk)
    }
    val textExchanges = walk(q("q_train_pipeline").queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e }
    assert(textExchanges.isEmpty,
      s"text-bearing exchange in the pack derivation:\n${textExchanges.mkString("\n")}")
  }

  test("q_sort_limit is top-k, not a total sort") {
    val p = plan(q("q_sort_limit"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("substr-dedup spans: codegen'd window kernel, hash-keyed joins, two exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = queries.t(spark, sfTiny, "documents").select("doc_id", "text")
    val df = graft.ops.SubstrDedup.repeatedSpans(
      docs, col("text"), col("doc_id"), 8)
    df.collect() // finalize AQE
    val p = plan(df)
    // the window-hash kernel runs as a native expression (the
    // dual-modulus form since the sf0.1 collision finding), not the
    // interpreted HOF chain it replaced
    assert(p.contains("graft_token_window_dual_hash"), p.take(2000))
    assert(!p.contains("CodegenFallback"), p.take(2000))
    // spread filter joins on the 64-bit hash — hash join, never SMJ,
    // and never a broadcast of the corpus-sized window table on the
    // build side of the spread self-restriction
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // exchanges: spread agg keyed by whash, islands window keyed by
    // id, plus the hash-join distribution — nothing beyond key-driven
    // shuffles (no round-robin repartition, no range exchange before
    // the final agg)
    assert(!p.contains("RoundRobinPartitioning"), p.take(3000))
    assert(!p.contains("rangepartitioning"), p.take(3000))
  }

  test("profile: per-column one-distinct branches — no Expand, each scan reads ONE column") {
    // r15 re-plan (honest-bench finding): the one-scan multi-distinct
    // form's Expand multiplied every row ×(|cols|+1) through the
    // first aggregate (9.0 s at sf0.1); on a columnar source each
    // branch's parquet scan prunes to its single column, so the union
    // of per-column one-distinct aggregates reads the same bytes with
    // |distinct|-sized exchanges. Gate: no Expand anywhere, one scan
    // per column, every scan single-column.
    val df = q("q_profile")
    df.collect() // finalize AQE
    // count scans in the FINAL plan only — AdaptiveSparkPlan's
    // toString appends the initial plan, which would double-count
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Expand"), p.take(2000))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size == 6, s"expected 6 single-column scans:\n${schemas.mkString("\n")}")
    for (l <- schemas) {
      val cols = "l_\\w+".r.findAllIn(l.substring(l.indexOf("ReadSchema"))).toSeq.distinct
      assert(cols.size == 1, s"branch scan must read exactly its one column: $l")
    }
  }

  test("jaccard verify: no sort-merge join, no full-corpus broadcast") {
    val df = q("q_dedup_ngram_jaccard")
    df.collect() // finalize AQE
    val p = plan(df)
    // every join is hash-based: the candidate restriction + pair fanout
    // broadcast candidate-bounded sides, and the (id2, s) intersection
    // is a shuffled hash join — a SortMergeJoin would mean the shingle
    // table is being exchanged+sorted per consumer again
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    // set-op pre-aggregation: union/intersect/except shuffle distincts
    val pu = plan(q("q_union_distinct"))
    // each union branch aggregates BEFORE the exchange (partial
    // HashAggregate below Exchange) — the |rows|→|distinct| shrink
    assert("HashAggregate".r.findAllIn(pu).length >= 4, pu.take(4000))
  }

  /** Shuffle exchanges executed by THIS query, counted on the plan
    * tree: descends through AQE wrappers/stages, stops at
    * InMemoryTableScan leaves (a cached memo's STORED build plan is
    * not executed by the reading query — the string count above
    * walks into those nested plan dumps and overcounts wildly for
    * queries over the shared memo caches). */
  private def executedShuffles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("minhash estimator: pair-bounded joins broadcast, terminal sort is the only shuffle") {
    // r17 stage-floor work: every join side in q_minhash_est is pair-
    // or candidate-bounded (the LSH linear contract), so the whole
    // chain must run as broadcast hash joins over the cached
    // signature/pair tables — the old shuffle_hash formulation paid 5
    // exchanges to move pair-bounded frames (measured 24 -> 22 stages,
    // 0.101 -> 0.019 MB shuffle at sf0.1)
    val df = q("q_minhash_est")
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.take(4000).contains("SortMergeJoin"), p.take(4000))
    assert(executedShuffles(df) == 1,
      s"expected the terminal sort as the ONLY shuffle:\n${p.take(4000)}")
    assert(p.contains("rangepartitioning"), p.take(4000))
  }

  test("q_bpe_encode: broadcasts carry aggregated relations, never the exploded corpus") {
    // r19 gate for the inverted-broadcast hazard: un-hinted, the
    // planner size-estimated the posexplode side through Generate
    // (which barely inflates its input estimate) as the smaller
    // relation and broadcast the position-exploded CORPUS — every
    // word occurrence collected to the driver (r18 plan:
    // BroadcastHashJoin BuildLeft over Generate). The fix broadcasts
    // the dictionary; this gate pins the invariant the fix restores:
    // every broadcast relation in this query is aggregate-bounded
    // (the distinct-word dict, the per-doc aggregate), never raw
    // generator output whose row count rides the corpus.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    val df = q("q_bpe_encode")
    df.collect() // finalize AQE
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    // Generate nodes reachable without crossing an aggregate: the
    // signature of a per-occurrence (corpus-sized) relation. Walks
    // stop at InMemoryTableScan leaves naturally (a cached memo's
    // stored build plan is not this query's broadcast payload).
    def rawGenerates(p: SparkPlan): Int = p match {
      case _: BaseAggregateExec => 0
      case g: GenerateExec => 1 + kids(g).map(rawGenerates).sum
      case o => kids(o).map(rawGenerates).sum
    }
    var broadcasts = 0
    def check(p: SparkPlan): Unit = {
      p match {
        case b: BroadcastExchangeLike =>
          broadcasts += 1
          assert(rawGenerates(b) == 0,
            s"broadcast of un-aggregated generator output (corpus-sized):\n$b")
        case _ => ()
      }
      kids(p).foreach(check)
    }
    check(df.queryExecution.executedPlan)
    assert(broadcasts >= 2, // the dict + the per-doc left-join side
      s"expected the dict and per-doc broadcasts:\n${plan(df).take(4000)}")
  }

  test("vector pair join: dot kernel is codegen, join is broadcast") {
    val df = q("q_dedup_embed_topk")
    df.collect() // finalize the AQE plan so codegen stages are visible
    val p = plan(df)
    assert(p.contains("graft_dot"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // Whole-stage codegen spans mark operators with "*(n)" in the
    // executed plan; the projection computing graft_dot must be inside
    // one (the kernel would be interpreted under a CodegenFallback).
    val dotLine = p.linesIterator.find(l => l.contains("graft_dot") && l.contains("Project"))
    assert(dotLine.exists(_.contains("*(")), s"dot projection not codegen'd:\n$p")
    // both join sides must read the shared embedNorms cache — without
    // it each run re-scans and re-shuffles the embeddings table twice
    // and recomputes every norm (the r2→r3 5.5s→0.6s regression fix)
    // (the InMemoryRelation subtree embeds the cache-BUILD plan, which
    // legitimately contains the parquet scan — only the count of cache
    // reads is asserted)
    val imScans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imScans >= 2, s"embed pair join must read the norms cache on both sides:\n$p")
  }

  test("window queries shuffle once on the partition key") {
    val p = plan(q("q_window_lag_return"))
    // ONE exchange total since r15: the series exchange is
    // RANGE-partitioned and the terminal sort elides (see the
    // range-partitioned-window-family gate below for the full check)
    val exchanges = shuffleExchanges(p)
    assert(exchanges == 1, s"expected exactly 1 exchange, plan:\n$p")
  }

  test("as-of join is one hash shuffle, no range-join fanout") {
    val p = plan(q("q_asof_join"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    // the union+window core: a Window over user_id, fed by exchanges
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("train-prep generators are row-local: no exchange below the explode") {
    // chunking and mixing replicate rows inside the scan stage — the
    // only exchanges allowed are the ones their FINAL global sort /
    // aggregate demands (rangepartitioning; mix adds one hash exchange
    // for its group-by). A hash exchange under the Generate would mean
    // replication is being shuffled instead of generated in place.
    for (name <- Seq("q_chunk_windows", "q_mix_epochs")) {
      val p = plan(q(name))
      assert(p.contains("Generate explode"), s"$name:\n$p")
      val generateIdx = p.indexOf("Generate explode")
      // plan prints root-first: anything AFTER the Generate line is
      // below it in the tree — no exchange may appear there. The scan
      // below is the shared docProfile cache, whose printed
      // InMemoryRelation subtree embeds the cache-BUILD plan (a
      // one-time repartition exchange, not a per-query shuffle) — cut
      // the assertion window at the cache boundary.
      val below = p.substring(generateIdx)
      val cacheIdx = below.indexOf("InMemoryRelation")
      val perQuery = if (cacheIdx >= 0) below.substring(0, cacheIdx) else below
      assert(!perQuery.contains("Exchange"),
        s"$name shuffles below its generator:\n$p")
    }
    // scrubbing is a pure projection: no exchange except the final sort
    val ps = plan(q("q_scrub_pii"))
    assert(!ps.contains("Exchange hashpartitioning"), ps)
  }

  test("aggregations are partial+final (map-side combine present)") {
    val p = plan(q("q_agg_group"))
    val aggs = p.linesIterator.count(_.trim.startsWith("+- HashAggregate")) +
      p.linesIterator.count(_.trim.startsWith("HashAggregate"))
    assert(p.contains("HashAggregate"), p)
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$p")
  }

  test("per-label embed top-k: pair join is keyed, never cartesian; no pair-space sort") {
    val p = plan(q("q_embed_label_topk"))
    assert(!p.contains("CartesianProduct"), p)
    // the label equi-key must be a join key (bounded pair space), and
    // the codegen dot kernel must survive on the pair path
    assert(p.contains("graft_dot") || p.contains("dot("), p)
    // r10 re-plan: the per-label top-3 is TopKPairAgg (O(k) heaps,
    // map-side combine), not a rank window that sorts Σ|group|² pair
    // rows — WindowExec must not reappear over the pair space
    assert(p.contains("graft_top_k_pairs"), p)
    assert(!p.contains("Window"), s"rank window regrew over the pair space:\n$p")
  }

  test("outlier gate: the 5-row percentile cut broadcasts back over the scan") {
    val p = plan(q("q_outlier_p95"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the per-type cut:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("histogram: 1-row bounds aggregate broadcasts, no second scan shuffle") {
    val p = plan(q("q_hist"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the 1-row bounds:\n$p")
    // bucket groupBy is the only hash exchange
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange:\n$p")
  }

  test("funnel: exchanges carry per-user aggregates, not raw events") {
    val p = plan(q("q_funnel"))
    // every hash exchange must partition on user_id (the per-user
    // min-aggregation keys) — a non-user exchange would mean raw
    // events are being shuffled for the stage joins
    val badExchange = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .exists(l => !l.contains("user_id"))
    assert(!badExchange, s"non-user-key exchange in funnel plan:\n$p")
  }

  test("interval join is bin-keyed equi, never a range cartesian") {
    val p = plan(q("q_interval_join"))
    // the 1-hour band must enter as an equi-join on (user_id, bin) —
    // a range-predicate join would plan as BroadcastNestedLoopJoin or
    // CartesianProduct and explode quadratically at scale
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("Join") && p.contains("bin"), p)
  }

  test("gaps-and-islands: groupBy reuses the window's user-key layout") {
    val p = plan(q("q_gap_islands"))
    // distinct + window + island groupBy all key on user_id: the only
    // hash exchanges allowed are user-keyed (plus the final range sort)
    val badExchange = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .exists(l => !l.contains("user_id"))
    assert(!badExchange, s"non-user-key hash exchange:\n$p")
  }

  test("mode: exchanges carry (status, priority) counts, not order rows") {
    val df = q("q_mode")
    df.collect() // finalize AQE
    val p = plan(df)
    // the count aggregate must be partial+final (map-side combine), so
    // the exchange payload is the tiny count table
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("unpivot plans as Expand inside codegen, not a Generate") {
    val p = plan(q("q_unpivot"))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Generate"), p)
  }

  test("regex extraction and array zip are row-local below the sort") {
    for (name <- Seq("q_regex_extract", "q_array_zip")) {
      val p = plan(q(name))
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles what should be row-local work:\n$p")
    }
  }

  test("date spine: generator output scales with the calendar, not the fact table") {
    val p = plan(q("q_date_spine"))
    // the sequence explode must sit ABOVE the 1-row bounds aggregate —
    // a Generate below the aggregate would replicate fact rows
    assert(p.contains("Generate explode"), p)
    val genIdx = p.indexOf("Generate explode")
    assert(p.indexOf("HashAggregate") > genIdx || p.indexOf("SortAggregate") > genIdx,
      s"bounds aggregate must be BELOW the generator:\n$p")
  }

  test("time bucket: one hash exchange, integer bucket key") {
    val p = plan(q("q_time_bucket"))
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected only the bucket groupBy exchange:\n$p")
  }

  test("salted agg: both phases map-side combine; no row-level shuffle on the raw key") {
    val p = plan(q("q_salt_skew_agg"))
    // phase 1 groups on (key, salt), phase 2 on key — at least two
    // partial+final HashAggregate pairs, no SortAggregate fallback
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("salted join: the replicated dim aggregate broadcasts, the fact streams") {
    // regression gate for the un-forced declared query: size-only
    // estimation carries child sizes through the dim's
    // Aggregate+Generate, which once flipped the broadcast onto the
    // FACT side (BuildLeft) — backwards at any scale. The operator
    // pins broadcast() on the replicated side; the fact scan must be
    // the streamed side.
    val p = plan(q("q_salt_skew_join"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("BuildRight"), s"replicated dim must be the build side:\n$p")
    assert(!p.contains("BuildLeft"), s"fact side must stream, not broadcast:\n$p")
  }

  test("session and sliding windows: the aggregation is the only hash exchange") {
    for (name <- Seq("q_session_window", "q_window_sliding", "q_time_bucket")) {
      val p = plan(q(name))
      val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashExchanges <= 1, s"$name: expected at most the one aggregation exchange:\n$p")
    }
  }

  test("set ops: per-side distincts only — no redundant dedup above the join") {
    // Dataset.intersect/except bolt a distinct ON TOP of their join;
    // over pre-distincted sides that re-shuffles the surviving rows a
    // second time (a full extra |a|-row exchange at scale). The
    // declared queries express the set op as the null-safe semi/anti
    // join directly — exactly 2 partial+final aggregate pairs (the
    // two per-side distincts) and the join, nothing above it.
    for ((name, joinType) <- Seq("q_intersect" -> "LeftSemi", "q_except" -> "LeftAnti")) {
      val p = plan(q(name))
      assert(p.contains(joinType), s"$name: expected a $joinType join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length == 4,
        s"$name: expected only the 2 per-side distinct pairs:\n$p")
    }
  }

  test("rank topk: no window over the fact — TopKAgg with map-side combine") {
    // q_window_rank_topk's window form partitioned by the 5-value
    // o_orderpriority — every fact row into 5 window tasks, 20% of the
    // fact sorted per task at 100×. The re-plan keeps the per-group
    // top-3 in a mergeable k-heap aggregate; the only Window-free gate
    // in the file, so a regression back to the window shape fails here.
    val p = plan(q("q_window_rank_topk"))
    assert(!"\\bWindow\\b".r.findAllIn(p).hasNext,
      s"rank-topk must not run a window over the orders scan:\n$p")
    assert(p.contains("graft_top_k"), p)
    // partial+final aggregate pair: the exchange carries |groups|*k
    // heap states, never raw orders rows
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_custkey") && !readSchema.contains("o_orderdate"),
      readSchema)
  }

  test("rsi: two fused window passes over one range exchange, pruned scan, cheap filter") {
    // Shape history: r4/r8 flip-flopped between the 2-pass sliding
    // frame and the 3-pass cum-minus-lag form with ~equal totals; r9
    // bisected the cost (window passes dominate, frame adds don't at
    // period=14) and made the strategy period-adaptive: ≤ 32 → 2-pass
    // sliding (this gate), > 32 → 3-pass O(1)/row. Two same-spec
    // Window nodes (rn+diff, sliding sums) share ONE sort and ONE
    // exchange; a withColumn chain would split every function into
    // its own pass. r18: the one exchange is RANGE-partitioned and
    // the terminal sort elides (the r15 bollinger discipline — the
    // r9 hash-exchange disposition predated the elision); the family
    // gate below holds the one-exchange/no-terminal-sort shape. Gate
    // the pass count and scan pruning here so a regression can't
    // silently multiply passes or un-prune the scan.
    val p = plan(q("q_rsi"))
    assert("\\bWindow\\b".r.findAllIn(p).length == 2,
      s"expected exactly the 2 fused window passes:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      s"expected no hash exchange (range form since r18):\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey") && !readSchema.contains("l_comment") &&
      !readSchema.contains("l_quantity"), readSchema)
    // completeOnly fast path: the defined-rows Filter must NOT contain
    // the round()/division CASE (two native-long comparisons only) —
    // the nullable form's pushed-down isnotnull(CASE …) once cost ~2×
    // the rounding work per input row
    val filterLines = p.linesIterator.filter(_.contains("Filter")).mkString("\n")
    assert(!filterLines.contains("round("),
      s"defined-rows filter must not re-evaluate round():\n$filterLines")
  }

  test("funnel: k window passes share one user-hash exchange, no extra sorts") {
    // funnelCounts chains each stage's conditional window min by
    // referencing the previous withColumn output inside the next
    // window's condition; its "k unsorted passes over one hash
    // layout" claim depends on Catalyst collapsing the interposed
    // Projects — a regression here would silently multiply exchanges
    // on the hottest event-log query, so the shape is gated.
    val p = plan(q("q_funnel"))
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected ONE user_id exchange under the windows:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).length >= 3,
      s"expected the 3 stage window passes:\n$p")
    // the windows have no ORDER BY — the only Sort allowed is the one
    // clustering pass on user_id that WindowExec itself requires
    // (" Sort [" misses neither "+- Sort […]" nor "*(n) Sort […]" and
    // never matches SortAggregate/SortMergeJoin)
    assert(p.linesIterator.count(_.contains(" Sort [")) <= 1,
      s"expected at most the clustering sort:\n$p")
  }

  test("string agg: dim join broadcasts; one exchange on the group key") {
    val p = plan(q("q_string_agg"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2, s"expected the n_name aggregation exchanges only:\n$p")
  }

  test("embed-lsh bucket join: the bucket key is computed once per side (non-nullable)") {
    // The r10 hazard this gates: a computed NULLABLE join key makes
    // the optimizer push isnotnull(<whole key expression>) below the
    // projection, so the full nBits-kernel bucket computation ran a
    // SECOND time per row per side — inlined into one un-splittable
    // generated predicate that blew the JIT huge-method limit at 16
    // bits (×16 self-join 2.3 → 12.6 s). The coalesce-to-constant
    // wrapper types the bucket non-nullable and the inferred filter
    // folds away; this test fails if the filter ever comes back.
    val df = q("q_dedup_embed_lsh")
    df.collect()
    val p = plan(df)
    assert(p.contains("graft_quantized_dot"), p)
    val badFilter = p.linesIterator.find(l =>
      l.contains("Filter") && l.contains("isnotnull") &&
        (l.contains("graft_quantized_dot") || l.contains("concat(CASE")))
    assert(badFilter.isEmpty,
      "bucket expression re-evaluated in a pushed null filter:\n" +
        badFilter.getOrElse(""))
  }

  test("range-partitioned window family plans exactly ONE exchange") {
    // r15: Quantiles.exactByGroup / Indicators.bollinger / maxDrawdown
    // RANGE-partition their one series/group exchange, so the terminal
    // ORDER BY is satisfied by Spark's prefix rule and the usual
    // Exchange(rangepartitioning) above the window/aggregate — whose
    // RangePartitioner sampling pass re-executed the whole chain as a
    // separate job — never plans. A second Exchange here means the
    // elision regressed (measured +0.2 s per query at sf0.1, and at
    // 100 TB a full second pass over the window chain).
    for (name <- Seq("q_percentile_disc", "q_quantiles_multi",
        "q_agg_median", "q_bollinger", "q_drawdown", "q_rsi",
        "q_window_lag_return", "q_window_lead_ntile")) {
      val p = plan(q(name))
      val exchanges = shuffleExchanges(p)
      assert(exchanges == 1, s"$name: expected ONE shuffle exchange:\n$p")
      assert(p.contains("rangepartitioning"),
        s"$name: the one exchange must be range-partitioned:\n$p")
    }
    // the full-series window queries' terminal sort must elide
    // COMPLETELY (their declared output order IS the window child's
    // ordering); the group-output quantile/drawdown forms keep a
    // partition-local SortExec ABOVE their aggregate only.
    // q_window_rolling_std reads the cached eventProfile (its memo
    // build carries its own exchanges), so it gets only this check.
    for (name <- Seq("q_bollinger", "q_rsi", "q_window_lag_return",
        "q_window_lead_ntile", "q_window_rolling_std")) {
      val p = plan(q(name))
      val lines = p.linesIterator.toSeq
      val windowLine = lines.indexWhere(_.contains("Window ["))
      assert(windowLine >= 0, s"$name: no Window node:\n$p")
      val sortAbove = lines.take(windowLine)
        .exists(l => l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort"))
      assert(!sortAbove, s"$name: a sort re-appeared above the window:\n$p")
    }
  }

  test("media meta: payloads decode ONCE, total order is a parallel range sort") {
    // r16 verdict #1: the old terminal was repartition(1) —
    // single-task gather, the round's one scale-killer. The fix
    // materializes the decoded metadata once (localCheckpoint) and
    // range-sorts THAT, so BOTH properties must hold: (a) the
    // executed plan's sort rides a range-partitioned exchange over
    // the checkpointed rows with no single-partition exchange
    // anywhere, and (b) the codec chain runs exactly once per
    // invocation — the RangePartitioner sampling job re-reads the
    // checkpoint blocks, never the parquet payloads (asserted on
    // measured input bytes: a decode re-execution would re-scan the
    // payload parquet and double the read).
    val layoutDir = graft.queries.ExtendedQueries.mediaLayoutPath(spark, sfTiny)
    val layoutBytes = {
      val p = new org.apache.hadoop.fs.Path(layoutDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    }
    val (df, counted) = Bench.countRun(spark, "q_media_meta") {
      val df = q("q_media_meta") // the decode + checkpoint job runs here
      assert(df.collect().nonEmpty)
      df
    }.get
    val read = counted.input
    val p = plan(df)
    assert(p.contains("rangepartitioning"),
      s"terminal sort must be range-partitioned:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition gather crept back below the sort:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"sort child must be the checkpointed metadata, not the codec chain:\n$p")
    // one payload scan + two tiny checkpoint-block re-reads; a
    // second decode pass would push this past 2x the layout size
    assert(read < (layoutBytes * 1.6).toLong + 65536,
      s"input bytes $read vs layout $layoutBytes — payloads read more than once")
  }
}
