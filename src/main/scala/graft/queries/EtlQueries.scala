package graft.queries

import org.apache.spark.sql.functions._

import graft.etl.{ChangeApply, IncrementalAgg, Scd2, Skipping}

/** Declared lifecycle-maintenance queries (SURVEY §2.11 extension):
  * the `graft.etl` merge semantics under the driver's DuckDB oracle.
  * Until round 11 these three subsystems — CDC apply
  * (`ChangeApply`), SCD2 merge + as-of read (`Scd2`), incremental
  * rollup (`IncrementalAgg`) — were verified only by self-written
  * specs; each is deterministic (stored-version latest-wins;
  * versioned `[valid_from, valid_to)` ranges; exact decimal moment
  * sums), so each is oracle-translatable.
  *
  * The reference's lifecycle shape these generalize: the daily
  * landing→star rebuild recreates tables wholesale each run
  * (`fetch_stocks.py:186-241`); at warehouse scale the same feeds
  * fold INCREMENTALLY — tombstoned upserts, history-keeping
  * dimensions, mergeable rollup state.
  *
  * Oracle-equivalence notes (why the SQL twin is exact):
  *  - CDC latest-ts-wins over batches with unique (key, ts) equals a
  *    single `row_number() OVER (ORDER BY ts DESC) = 1` sweep of the
  *    unioned feed — ChangeApply's documented slicing invariance.
  *  - The two-batch SCD2 chain equals per-(key, batch-period) last
  *    updates linked by `lead(ts)`: every candidate applies because
  *    consecutive candidates are distinct orders (attrs differ) with
  *    strictly increasing ts (never stale).
  *  - The incremental rollup's decimal moment state is BIT-identical
  *    to a from-scratch aggregate (fold-order-free monoid), so the
  *    oracle is the plain one-shot GROUP BY.
  */
object EtlQueries {

  /** The fixed range predicate q_skipping_prune declares — literal in
    * both engines (no data-derived bounds: the oracle SQL must not
    * hard-code data properties, and l_orderkey ∈ [1000, 3000] is
    * non-empty at every driver SF while pruning most shards). */
  private[graft] val skipPreds = Seq(
    Skipping.ColRange("l_orderkey", Some(1000.0), Some(3000.0)),
    Skipping.ColRange("l_quantity", Some(5.0), Some(45.0)))

  /** The declared query's scan, with its SkipStats exposed so
    * SkippingSpec can assert the prune is REAL (readFiles < liveFiles
    * at sf0.1) on the exact code path the oracle hashes. */
  private[graft] def skippingPruneScan(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Skipping.SkipStats) =
    Skipping.prunedScan(s, ExtendedQueries.skipLayout(s, d), skipPreds)

  val queries: Map[String, QFn] = Map(
    // File-level data skipping under the oracle: prune a range-sharded
    // copy of lineitem through its min/max file manifest
    // (etl.Skipping — the 100 TB scan-path subsystem: at 800 k files
    // the planner drops whole files before any task launches), then
    // aggregate the survivors. Skipping is IO-only — prunedScan
    // re-applies the exact predicate — so the oracle is the PLAIN
    // DuckDB filter over lineitem: any manifest bug that loses rows
    // is a hash mismatch, the same equivalence-property pattern as
    // q_bloom_prune_join. Generalizes the reference's filename-date
    // watermark pruning (fetch_stocks.py:19-37) to arbitrary columns.
    "q_skipping_prune" -> { (s, d) =>
      skippingPruneScan(s, d)._1
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          // decimal sum: partition-order-independent AND oracle-exact
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("l_returnflag"))
    },
    // The Z-ORDER KEY KERNEL under the oracle (Layout.zvalue — the
    // clustering write path q_skipping_prune's manifest payoff rides
    // on): Morton-interleave (l_orderkey, l_quantity) under FIXED
    // literal bounds (wide enough for every SF — the clamps never
    // fire but are mirrored), then fold EVERY row's 40-bit key
    // through order-independent exact aggregates (bit_xor covers all
    // bits of all rows; min/max pin the range) per return flag. The
    // double bucket arithmetic is mirrored operation-for-operation
    // (same literals, same association) so both engines compute
    // bit-identical scaled values; DuckDB's double→BIGINT CAST rounds
    // where Spark's ANSI cast truncates, so the oracle goes through
    // trunc() explicitly. Everything after the bucket is integer. The
    // oracle interleaves with the classic mask-spread, an independent
    // construction of the key zvalue builds bit by bit.
    "q_zorder_key" -> { (s, d) =>
      val z = graft.etl.Layout.zvalue(Seq(col("l_orderkey"), col("l_quantity")),
        Seq((0.0, 200000.0), (0.0, 60.0)), bits = 20)
      t(s, d, "lineitem")
        .select(col("l_returnflag"), z.as("zv"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          bit_xor(col("zv")).as("xor_z"),
          min(col("zv")).as("min_z"),
          max(col("zv")).as("max_z"))
        .orderBy(col("l_returnflag"))
    },

    // The Z-order key at n = 3 under the oracle (r14): 3-D
    // Morton key over (l_orderkey, l_quantity, l_extendedprice) at 21
    // bits/column (3·21 = 63, the full signed-long budget), folded
    // through the same order-independent exact aggregates. Bucket
    // arithmetic mirrored operation-for-operation (lo = 0 so the
    // divisor literal is hi; trunc() for DuckDB's rounding CAST);
    // the interleave is pure integer shift/mask on both engines —
    // bit j of column i lands at position j·3 + i.
    "q_zorder3_key" -> { (s, d) =>
      val z = graft.etl.Layout.zvalue(
        Seq(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        Seq((0.0, 200000.0), (0.0, 60.0), (0.0, 200000.0)), bits = 21)
      t(s, d, "lineitem")
        .select(col("l_returnflag"), z.as("zv"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          bit_xor(col("zv")).as("xor_z"),
          min(col("zv")).as("min_z"),
          max(col("zv")).as("max_z"))
        .orderBy(col("l_returnflag"))
    },

    // The BUCKETED CO-LOCATED JOIN under the oracle (r14 — previously
    // LayoutSpec-gated only): both sides of the fact⋈orders join are
    // persisted pre-hash-partitioned on the join key
    // (Layout.writeBucketed shape via the bucketJoinTables memo), so
    // the join plans with ZERO Exchange — the write-time shuffle is
    // amortized over every recurring join, the technique that deletes
    // the dominant exchange of the reference's star build at 100 TB.
    // hint("merge") pins the sort-merge strategy (a broadcast would
    // ALSO be exchange-free here but wouldn't exercise the bucketed
    // path, and would flip with the SF). Bucketing is IO/plan-only —
    // the oracle is the PLAIN join; the only exchange left in the
    // whole plan is the final single-row aggregate's. PlanSpec gates
    // zero hashpartitioning Exchanges on the declared path.
    "q_bucket_join" -> { (s, d) =>
      val (liT, oT) = ExtendedQueries.bucketJoinTables(s, d)
      s.table(liT).hint("merge")
        .join(s.table(oT).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
            .as("sum_qty"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("sum_price"))
    },

    // COMPACTION INVARIANCE under the oracle (r14 — Layout.compact +
    // its swap-publish were LayoutSpec-gated only): the declared query
    // aggregates a copy of lineitem that was written as 24 small
    // files and then compacted + swap-published in place, so the
    // small-file-maintenance lifecycle — the operation an incremental
    // 100 TB pipeline runs continuously — is under the hash: the
    // rewrite is IO-only and the oracle is the PLAIN scan, so a row
    // lost in the rewrite or the atomic-rename window is a mismatch.
    "q_compact_scan" -> { (s, d) =>
      s.read.parquet(ExtendedQueries.compactLayout(s, d))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("l_returnflag"))
    },

    // LEAF-WISE compaction under the oracle (r14 — the bounded-unit
    // variant of q_compact_scan: compactPartitioned rewrites each
    // month partition independently, so the rewrite unit stays
    // bounded no matter how large the table grows; in production only
    // just-touched partitions fall under the target). The group key
    // IS the partition column, so the aggregate also verifies the
    // directory-encoded values survived the per-leaf rewrite.
    "q_compact_partitioned" -> { (s, d) =>
      s.read.parquet(ExtendedQueries.compactPartitionedLayout(s, d))
        .groupBy(col("mth").cast("long").as("mth"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
            .as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("mth"))
    },

    // CDC apply: a synthetic I/U/D change feed (one change per order,
    // key = customer, version ts = o_orderkey — globally unique, so
    // latest-wins is total) folded into an empty snapshot in TWO
    // batches (even/odd ts) through ChangeApply.merge, then read via
    // current(). Exercises the full merge path: per-batch winner
    // collapse, stored-version staleness guard, delete tombstones,
    // tombstone filtering on read. Scale shape: one window over each
    // CHANGE batch + one full-outer hash join per apply — the
    // snapshot is never sorted.
    "q_cdc_apply" -> { (s, d) =>
      val o = t(s, d, "orders")
      val ch = o.select(col("o_custkey"),
        col("o_totalprice").as("cur_price"),
        col("o_orderstatus").as("cur_status"),
        when(col("o_orderkey") % 10 === 0, lit("D"))
          .when(col("o_orderkey") % 10 < 5, lit("U"))
          .otherwise(lit("I")).as("op"),
        col("o_orderkey").as("ts"))
      val empty = ch.select(col("o_custkey"), col("cur_price"),
        col("cur_status"), col("ts").as("__ts"),
        lit(false).as("__deleted")).limit(0)
      val attrs = Seq("cur_price", "cur_status")
      val s1 = ChangeApply.merge(empty, ch.filter(col("ts") % 2 === 0),
        "o_custkey", attrs)
      val s2 = ChangeApply.merge(s1, ch.filter(col("ts") % 2 === 1),
        "o_custkey", attrs)
      ChangeApply.current(s2).orderBy(col("o_custkey"))
    },

    // SCD2 merge + point-in-time read: per-customer "current order"
    // dimension built in two batches split at 1998-01-01 (batch 1
    // opens rows, batch 2 closes them and opens successors — history
    // + open chains both exercised), then asOf('1999-06-30') selects
    // each key's row valid at that instant: the OPEN row for keys
    // whose second version started by then, the CLOSED first version
    // for keys whose second version starts later. Scale shape: one
    // hash shuffle per merge on the key; closed history passes
    // through untouched.
    "q_scd2_asof" -> { (s, d) =>
      val o = t(s, d, "orders")
      val tsT = o.schema("o_orderdate").dataType
      val upd = o.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate").as("ts"))
      val cut = lit("1998-01-01 00:00:00").cast(tsT)
      val at = lit("1999-06-30 00:00:00").cast(tsT)
      val attrs = Seq("o_orderkey", "o_totalprice")
      val empty = upd.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("ts").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to")).limit(0)
      val v1 = Scd2.merge(empty, upd.filter(col("ts") < cut),
        "o_custkey", "ts", attrs)
      val v2 = Scd2.merge(v1, upd.filter(col("ts") >= cut),
        "o_custkey", "ts", attrs)
      Scd2.asOf(v2, at)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"))
        .orderBy(col("o_custkey"))
    },

    // SCD2 over the PERSISTED advance fold (r14 — q_scd2_asof
    // declares the merge algebra over in-session frames; this
    // declares the on-disk state LIFECYCLE): three Scd2.advance
    // batches (orders split at 1995/1997), each a real
    // bootstrap-or-read → merge → swap-publish of parquet state with
    // Swap.open's recovery first, then a point-in-time read of the PERSISTED
    // chain. Oracle = per-(key, period) last updates chained by
    // lead(ts) over the unioned feed + the asOf validity filter —
    // the same equivalence argument as q_scd2_asof, one period wider.
    "q_scd2_advance" -> { (s, d) =>
      val dim = s.read.parquet(
        ExtendedQueries.scd2AdvancePath(s, d) + "/dim")
      val at = lit("1996-06-30 00:00:00")
        .cast(dim.schema("valid_from").dataType)
      Scd2.asOf(dim, at)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"))
        .orderBy(col("o_custkey"))
    },

    // Streaming CDC PUBLISH under the oracle (r15 — q_cdc_apply
    // declares the merge algebra over in-session frames; this reads
    // back the snapshot a REAL structured stream published: the same
    // change feed delivered as three file-source micro-batches
    // (availableNow) through StreamingPipeline.cdcApplySink, each
    // batch a ChangeApply.advance swap-publish of on-disk state —
    // see ExtendedQueries.streamCdcPath). Oracle = the identical
    // latest-wins window over the whole feed (q_cdc_apply's), because
    // ChangeApply.merge is slicing-invariant: ANY partition of the
    // feed into batches converges to the same snapshot.
    "q_stream_cdc_publish" -> { (s, d) =>
      ChangeApply.current(s.read.parquet(
          ExtendedQueries.streamCdcPath(s, d) + "/snap"))
        .select(col("o_custkey"), col("cur_price"), col("cur_status"))
        .orderBy(col("o_custkey"))
    },

    // Streaming SCD2 PUBLISH under the oracle (r15 — the second
    // streaming lifecycle row): the q_scd2_advance update feed
    // delivered period-per-micro-batch through
    // StreamingPipeline.scd2Sink (see ExtendedQueries.streamScd2Path —
    // feed mtimes pinned strictly increasing because SCD2's
    // forward-only contract makes batch ORDER semantics, unlike the
    // slicing-invariant CDC fold), then a point-in-time asOf read of
    // the PUBLISHED dimension. Oracle = q_scd2_advance's period
    // chain: the streamed fold must converge to it or the hash
    // diverges.
    "q_stream_scd2_publish" -> { (s, d) =>
      val dim = s.read.parquet(
        ExtendedQueries.streamScd2Path(s, d) + "/dim")
      val at = lit("1996-06-30 00:00:00")
        .cast(dim.schema("valid_from").dataType)
      Scd2.asOf(dim, at)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"))
        .orderBy(col("o_custkey"))
    },

    // Incremental SKETCH-state rollup under the oracle (r14 — the
    // last etl-lifecycle subsystem with no declared query): three
    // order deltas folded into persisted per-priority sketch state
    // via SketchRollup.advance (read → merge → swap-publish each
    // batch), then finalized and checked the established band way
    // (q_approx_distinct / q_quantile_sketch_band): the exact row
    // count hash-matches outright; the HLL distinct estimate is
    // pinned inside a 10% band of the exact count (≈6·RSE at lgK 12,
    // and HLL register merge is value-determined, so the folded
    // estimate equals the one-shot build's); the merged KLL median is
    // pinned inside the exact [p40, p60] element band (~6× its 1.65%
    // rank-error bound — KLL merge guarantees the envelope, not
    // bit-equality, which is exactly what the band asserts). The
    // oracle recomputes the exact fields one-shot.
    "q_sketch_rollup_band" -> { (s, d) =>
      val fin = graft.etl.SketchRollup.finalizeState(
        s.read.parquet(ExtendedQueries.sketchRollupPath(s, d) + "/state"),
        Seq("o_orderpriority"), probs = Seq(0.5))
      // r15: the exact verification side (band bounds + distinct) was
      // the real cost — two interpreted percentile_disc aggregates —
      // not the 5-row state read; the bounds now come from one rank
      // window (Quantiles.exactByGroup) joined with a two-phase
      // count(DISTINCT)
      val o = t(s, d, "orders")
      val bounds = graft.ops.Quantiles.exactByGroup(o,
          col("o_orderpriority"), col("o_totalprice"),
          disc = Seq(("p40", 0.4), ("p60", 0.6)))
        .select(col("o_orderpriority"), col("p40"), col("p60"))
      val exact = o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        .join(bounds, Seq("o_orderpriority"))
      fin.join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_rows"), col("exact_distinct"),
          (abs(col("distinct_est") - col("exact_distinct")) <=
            col("exact_distinct") * lit(0.10)).as("distinct_ok"),
          (col("q_0") >= col("p40") && col("q_0") <= col("p60"))
            .as("q_band_ok"))
        .orderBy(col("o_orderpriority"))
    },

    // Data-quality expectations as the distributable (rule,
    // violations) report frame: three row rules + key uniqueness fold
    // into ONE partial+final aggregate over one lineitem scan; the
    // referential check rides the SAME scan as a broadcast
    // left-outer flag-sum against distinct orders keys (r11). The reference's "verify the schema" console prints
    // (fetch_stocks.py:269-280) generalized to the Deequ/dbt-tests
    // contract gate a production load runs per batch.
    "q_expectations" -> { (s, d) =>
      import graft.etl.Expectations
      Expectations.checkFrame(
          t(s, d, "lineitem"),
          Seq(Expectations.inRange("l_quantity", 1.0, 30.0),
            Expectations.matches("l_returnflag", "^[AR]$"),
            Expectations.notNull("l_shipdate")),
          uniqueKey = Seq("l_orderkey", "l_linenumber"),
          foreignKeys = Map("fk(l_orderkey->orders)" ->
            ("l_orderkey", t(s, d, "orders"), "o_orderkey")))
        .orderBy(col("rule"))
    },

    // Incremental rollup: lineitem split into three deltas
    // (l_orderkey % 3), each collapsed to mergeable moment state
    // (partialState), folded pairwise (mergeState), finalized — the
    // batch-side maintenance loop whose refresh costs O(|delta| +
    // |touched groups|), never a history rescan. Exact DECIMAL sums
    // make the folded state bit-identical to the from-scratch
    // aggregate, which is exactly what the oracle runs. Finals cast
    // to double (§7.3 rule 11: no DECIMAL(38,6) in declared output).
    "q_incremental_rollup" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      def batch(i: Int) = IncrementalAgg.partialState(
        li.filter(col("l_orderkey") % 3 === i), keys, "l_quantity")
      val st = IncrementalAgg.mergeState(
        IncrementalAgg.mergeState(batch(0), batch(1), keys), batch(2), keys)
      IncrementalAgg.finalizeState(st, keys)
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_v").cast("double").as("sum_v"),
          col("avg_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"),
          col("var_pop_v"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Streaming LSH band-registry PUBLISH under the oracle (r15 — the
    // fourth and last idempotence class: the MARKER-FREE set-fold;
    // cdc = slicing-invariant latest-wins, scd2 = order-sensitive
    // forward-only, agg = markered additive, band = replay-at-will
    // distinct union). Three micro-batches through
    // StreamingPipeline.bandRegistrySink, then batch 0 deliberately
    // re-folded — the replay no-op is ON the declared path (see
    // ExtendedQueries.streamBandPath). Oracle = the one-shot MinHash
    // band chain over the whole corpus (the q_dedup_minhash_lsh /
    // q_corpus_clean mirror): any slicing, ordering, or replay of the
    // feed converges to the same distinct (id, band, h) set.
    "q_stream_band_publish" -> { (s, d) =>
      graft.ops.Dedup.loadBandRegistry(s,
          ExtendedQueries.streamBandPath(s, d) + "/reg")
        .select(col("id"), col("band").cast("long").as("band"), col("h"))
        .orderBy(col("id"), col("band"))
    },

    // Streaming moment-state PUBLISH under the oracle (r15 — the
    // third streaming lifecycle row): the q_incremental_rollup deltas
    // delivered as three file-source micro-batches through
    // StreamingPipeline.incrementalAggSink, each an
    // IncrementalAgg.advanceBatch swap-publish of on-disk moment
    // state WITH its applied-batch marker (additive state, so the
    // at-least-once no-op contract is on the declared path). The
    // query finalizes the PUBLISHED state; oracle =
    // q_incremental_rollup's one-shot aggregate, because moment-state
    // merge is commutative/associative — any slicing converges.
    "q_stream_agg_publish" -> { (s, d) =>
      IncrementalAgg.finalizeState(
          s.read.parquet(ExtendedQueries.streamAggPath(s, d) + "/state"),
          Seq("l_returnflag", "l_linestatus"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_v").cast("double").as("sum_v"),
          col("avg_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"),
          col("var_pop_v"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Streaming JSONL intake PUBLISH under the oracle (r18 — the
    // FIFTH streaming lifecycle row, composing the two marker-free
    // idempotence classes: clean side = keyed upsert (latest-wins by
    // doc_id), dead-letter side = distinct set-fold): the corrupted
    // JSONL feed delivered as three text micro-batches through
    // CorpusIO.readJsonlStream -> StreamingPipeline.jsonlIntakeSink,
    // then the WHOLE feed deliberately re-folded once (the strongest
    // replay — every batch at once — must be a content no-op on both
    // published sides; see ExtendedQueries.streamJsonlPath). The
    // query reads the PUBLISHED state; oracle = the arithmetic
    // clean/quarantine split (the q_jsonl_quarantine twin — any
    // slicing, ordering, or replay of the feed converges to it).
    "q_stream_jsonl_publish" -> { (s, d) =>
      val dir = ExtendedQueries.streamJsonlPath(s, d)
      s.read.parquet(s"$dir/pub/clean")
        .select(col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("text_md5"))
        .unionByName(s.read.parquet(s"$dir/pub/quarantine")
          .select(regexp_extract(col("raw_line"), "\"doc_id\":(\\d+)", 1)
            .cast("long").as("doc_id"),
          lit("__quarantined").as("lang"),
          lit(null).cast("string").as("text_md5")))
        .orderBy(col("doc_id"))
    }
  )

  val sql: Map[String, String] = Map(
    "q_zorder_key" -> {
      // the classic 2-column mask-spread interleave, one CTE per step
      // (textual inlining would double the expression at every level)
      // — independent of Layout.zvalue's per-bit form, same key; every
      // double literal CAST to DOUBLE (bare DuckDB numerics are
      // DECIMAL — the q_bm25 mirroring rule), trunc() because DuckDB's
      // double→BIGINT CAST rounds where Spark's ANSI cast truncates.
      def bucket(c: String, hi: String) =
        s"CAST(trunc(least(CAST(1048575.0 AS DOUBLE), greatest(" +
          s"CAST(0.0 AS DOUBLE), (CAST($c AS DOUBLE) - CAST(0.0 AS DOUBLE))" +
          s" / CAST($hi AS DOUBLE) * CAST(1048575.0 AS DOUBLE)))) AS BIGINT)"
      val steps = Seq(
        16 -> 281470681808895L, 8 -> 71777214294589695L,
        4 -> 1085102592571150095L, 2 -> 3689348814741910323L,
        1 -> 6148914691236517205L)
      val spreadCtes = steps.zipWithIndex.map { case ((sh, mask), i) =>
        s"""s${i + 1} AS (SELECT l_returnflag,
           |  ((va | (va << $sh)) & $mask) AS va,
           |  ((vb | (vb << $sh)) & $mask) AS vb FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (SELECT l_returnflag,
         |  ${bucket("l_orderkey", "200000.0")} AS ba,
         |  ${bucket("l_quantity", "60.0")} AS bb
         |  FROM lineitem),
         |s0 AS (SELECT l_returnflag, (ba & 2147483647) AS va,
         |              (bb & 2147483647) AS vb FROM b),
         |$spreadCtes,
         |z AS (SELECT l_returnflag, (va | (vb << 1)) AS zv FROM s${steps.size})
         |SELECT l_returnflag, count(*) AS n, bit_xor(zv) AS xor_z,
         |       min(zv) AS min_z, max(zv) AS max_z
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_zorder3_key" -> {
      // zvalue's per-bit interleave, mirrored: the bucket is the
      // q_zorder_key expression at 21 bits; bit j of column i lands at
      // key position j·3 + i (63 shift-or terms, generated — textual
      // but mechanical, exactly the Column expressions Spark builds).
      def bucket(c: String, hi: String) =
        s"CAST(trunc(least(CAST(2097151.0 AS DOUBLE), greatest(" +
          s"CAST(0.0 AS DOUBLE), (CAST($c AS DOUBLE) - CAST(0.0 AS DOUBLE))" +
          s" / CAST($hi AS DOUBLE) * CAST(2097151.0 AS DOUBLE)))) AS BIGINT)"
      def interleave(b: String, i: Int) =
        (0 until 21).map(j => s"((($b >> $j) & 1) << ${j * 3 + i})")
          .mkString(" | ")
      s"""WITH b AS (SELECT l_returnflag,
         |  ${bucket("l_orderkey", "200000.0")} AS b0,
         |  ${bucket("l_quantity", "60.0")} AS b1,
         |  ${bucket("l_extendedprice", "200000.0")} AS b2
         |  FROM lineitem),
         |z AS (SELECT l_returnflag,
         |  (${interleave("b0", 0)}) |
         |  (${interleave("b1", 1)}) |
         |  (${interleave("b2", 2)}) AS zv FROM b)
         |SELECT l_returnflag, count(*) AS n, bit_xor(zv) AS xor_z,
         |       min(zv) AS min_z, max(zv) AS max_z
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_bucket_join" ->
      """SELECT count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin,

    "q_compact_partitioned" ->
      """SELECT CAST(month(l_shipdate) AS BIGINT) AS mth,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_compact_scan" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_skipping_prune" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000
        |  AND l_quantity BETWEEN 5 AND 45
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_custkey,
        |         o_totalprice AS cur_price,
        |         o_orderstatus AS cur_status,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |              WHEN o_orderkey % 10 < 5 THEN 'U'
        |              ELSE 'I' END AS op,
        |         o_orderkey AS ts
        |  FROM orders),
        |w AS (
        |  SELECT ch.*, row_number() OVER (
        |           PARTITION BY o_custkey ORDER BY ts DESC) AS rn
        |  FROM ch)
        |SELECT o_custkey, cur_price, cur_status
        |FROM w WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_custkey""".stripMargin,

    "q_scd2_asof" ->
      """WITH cand AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         o_orderdate AS ts,
        |         CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |              THEN 1 ELSE 0 END AS p,
        |         row_number() OVER (
        |           PARTITION BY o_custkey,
        |             (o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |chain AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY o_custkey ORDER BY p) AS valid_to
        |  FROM cand WHERE rn = 1)
        |SELECT o_custkey, o_orderkey, o_totalprice, valid_from
        |FROM chain
        |WHERE valid_from <= TIMESTAMP '1999-06-30 00:00:00'
        |  AND (valid_to IS NULL OR TIMESTAMP '1999-06-30 00:00:00' < valid_to)
        |ORDER BY o_custkey""".stripMargin,

    "q_scd2_advance" ->
      """WITH cand AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         o_orderdate AS ts,
        |         CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' THEN 2
        |              WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1
        |              ELSE 0 END AS p,
        |         row_number() OVER (
        |           PARTITION BY o_custkey,
        |             (CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' THEN 2
        |                   WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1
        |                   ELSE 0 END)
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |chain AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY o_custkey ORDER BY p) AS valid_to
        |  FROM cand WHERE rn = 1)
        |SELECT o_custkey, o_orderkey, o_totalprice, valid_from
        |FROM chain
        |WHERE valid_from <= TIMESTAMP '1996-06-30 00:00:00'
        |  AND (valid_to IS NULL OR TIMESTAMP '1996-06-30 00:00:00' < valid_to)
        |ORDER BY o_custkey""".stripMargin,

    // the one-shot MinHash band chain (the q_dedup_minhash_lsh /
    // q_corpus_clean mirror): the streamed set-fold — including the
    // deliberate batch-0 replay — must converge to exactly this
    // distinct (id, band, h) set
    "q_stream_band_publish" ->
      """WITH sh AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |         , unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
        |    WHERE len(w) >= 3
        |), mh AS (
        |  SELECT doc_id,
        |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
        |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
        |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
        |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
        |  FROM sh GROUP BY doc_id
        |)
        |SELECT id, band, h FROM (
        |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS band,
        |         md5(m0 || m1 || m2 || m3) AS h FROM mh
        |  UNION ALL
        |  SELECT doc_id, CAST(1 AS BIGINT), md5(m4 || m5 || m6 || m7) FROM mh)
        |ORDER BY id, band""".stripMargin,

    // identical to q_scd2_advance's oracle: the period-ordered stream
    // must converge to the same period-chained dimension
    "q_stream_scd2_publish" ->
      """WITH cand AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         o_orderdate AS ts,
        |         CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' THEN 2
        |              WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1
        |              ELSE 0 END AS p,
        |         row_number() OVER (
        |           PARTITION BY o_custkey,
        |             (CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' THEN 2
        |                   WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1
        |                   ELSE 0 END)
        |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |chain AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice, ts AS valid_from,
        |         lead(ts) OVER (PARTITION BY o_custkey ORDER BY p) AS valid_to
        |  FROM cand WHERE rn = 1)
        |SELECT o_custkey, o_orderkey, o_totalprice, valid_from
        |FROM chain
        |WHERE valid_from <= TIMESTAMP '1996-06-30 00:00:00'
        |  AND (valid_to IS NULL OR TIMESTAMP '1996-06-30 00:00:00' < valid_to)
        |ORDER BY o_custkey""".stripMargin,

    // identical to q_cdc_apply's oracle: the streamed fold must
    // converge to the one-shot latest-wins over the unioned feed
    "q_stream_cdc_publish" ->
      """WITH ch AS (
        |  SELECT o_custkey,
        |         o_totalprice AS cur_price,
        |         o_orderstatus AS cur_status,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |              WHEN o_orderkey % 10 < 5 THEN 'U'
        |              ELSE 'I' END AS op,
        |         o_orderkey AS ts
        |  FROM orders),
        |w AS (
        |  SELECT ch.*, row_number() OVER (
        |           PARTITION BY o_custkey ORDER BY ts DESC) AS rn
        |  FROM ch)
        |SELECT o_custkey, cur_price, cur_status
        |FROM w WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_custkey""".stripMargin,

    "q_sketch_rollup_band" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_rows,
        |       count(DISTINCT o_custkey) AS exact_distinct,
        |       true AS distinct_ok,
        |       true AS q_band_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_expectations" ->
      """WITH agg AS (
        |  SELECT
        |    sum(CASE WHEN coalesce(l_quantity IS NOT NULL
        |          AND l_quantity >= 1.0 AND l_quantity <= 30.0, false)
        |        THEN 0 ELSE 1 END) AS r_range,
        |    sum(CASE WHEN coalesce(l_returnflag IS NOT NULL
        |          AND regexp_matches(l_returnflag, '^[AR]$'), false)
        |        THEN 0 ELSE 1 END) AS r_match,
        |    sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS r_null,
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS r_uniq
        |  FROM lineitem),
        |fk AS (
        |  SELECT count(*) AS v
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
        |SELECT rule, violations FROM (
        |  SELECT 'in_range(l_quantity)' AS rule,
        |         cast(r_range AS bigint) AS violations FROM agg
        |  UNION ALL SELECT 'matches(l_returnflag)', cast(r_match AS bigint) FROM agg
        |  UNION ALL SELECT 'not_null(l_shipdate)', cast(r_null AS bigint) FROM agg
        |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', cast(r_uniq AS bigint) FROM agg
        |  UNION ALL SELECT 'fk(l_orderkey->orders)', cast(v AS bigint) FROM fk)
        |ORDER BY rule""".stripMargin,

    "q_incremental_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_rows,
        |  cast(sum(cast(l_quantity AS decimal(38,6))) AS double) AS sum_v,
        |  cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |    / cast(count(l_quantity) AS double) AS avg_v,
        |  cast(min(cast(l_quantity AS decimal(38,6))) AS double) AS min_v,
        |  cast(max(cast(l_quantity AS decimal(38,6))) AS double) AS max_v,
        |  greatest(
        |    cast(sum(cast(l_quantity * l_quantity AS decimal(38,6))) AS double)
        |      / cast(count(l_quantity) AS double)
        |    - (cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |        / cast(count(l_quantity) AS double))
        |      * (cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |        / cast(count(l_quantity) AS double)),
        |    0.0) AS var_pop_v
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // identical to q_incremental_rollup's oracle: the streamed
    // marker-guarded fold must converge to the one-shot aggregate
    "q_stream_agg_publish" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_rows,
        |  cast(sum(cast(l_quantity AS decimal(38,6))) AS double) AS sum_v,
        |  cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |    / cast(count(l_quantity) AS double) AS avg_v,
        |  cast(min(cast(l_quantity AS decimal(38,6))) AS double) AS min_v,
        |  cast(max(cast(l_quantity AS decimal(38,6))) AS double) AS max_v,
        |  greatest(
        |    cast(sum(cast(l_quantity * l_quantity AS decimal(38,6))) AS double)
        |      / cast(count(l_quantity) AS double)
        |    - (cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |        / cast(count(l_quantity) AS double))
        |      * (cast(sum(cast(l_quantity AS decimal(38,6))) AS double)
        |        / cast(count(l_quantity) AS double)),
        |    0.0) AS var_pop_v
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // identical to q_jsonl_quarantine's oracle: any slicing, ordering
    // or replay of the streamed feed converges to the arithmetic
    // clean/dead-letter split (upsert + set-fold idempotence)
    "q_stream_jsonl_publish" ->
      """SELECT doc_id, lang, md5(text) AS text_md5 FROM documents
        | WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id, '__quarantined' AS lang,
        |  CAST(NULL AS VARCHAR) AS text_md5 FROM documents
        | WHERE doc_id % 97 = 0
        |ORDER BY doc_id""".stripMargin
  )
}
