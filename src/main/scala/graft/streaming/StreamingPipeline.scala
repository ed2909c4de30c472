package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY §2.9): the reference's daily
  * incremental micro-batch (cron + filename watermark + full
  * recompute, fetch_stocks.py:19-37,292-298) becomes a continuous
  * pipeline — file source over the landing prefix, event-time
  * watermark, tumbling-window aggregates, stateful sessionization,
  * and a foreachBatch upsert instead of full recompute.
  *
  * Event-time semantics are pinned by the batch analogs
  * (`q_window_tumbling`, `q_sessionize` in graft.queries) — the
  * streaming variants must agree with them on closed windows, which
  * StreamingSpec asserts via the memory sink.
  */
object StreamingPipeline {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a landing directory of event files. */
  def readEventStream(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(dir)

  /** Hourly tumbling counts/sums with a 1-hour watermark — the
    * streaming twin of q_window_tumbling (late data beyond the
    * watermark is dropped; closed windows are final). The sum goes
    * through DECIMAL(18,4) like the batch twin (SURVEY §7.3): double
    * accumulation order varies with partitioning AND trigger slicing,
    * so an IEEE sum would diverge between the two engines' outputs. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_v"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding windows over the stream: 2-hour buckets every hour —
    * each event contributes to two overlapping windows (the streaming
    * twin of the declared q_window_sliding). Same watermark contract
    * as [[tumblingHourly]]; the window fanout happens below the
    * stateful aggregation, so state is |open windows| × |groups|. */
  def slidingTwoHour(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_v"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_v"))

  /** Native session windows — the engine-managed twin of the
    * mapGroupsWithState sessionizer below ([[sessionize]]): Spark's
    * `session_window` merges per-user windows whose events are within
    * `gap` of each other, closing (and finalizing) a session when the
    * watermark passes its end. Use THIS when the output you need is
    * per-session aggregates (state handled by the engine, mergeable
    * across micro-batches, spillable); use [[sessionize]] when custom
    * per-event state transitions are required. State is bounded by
    * the watermark horizon × active users — the same contract as the
    * tumbling aggregate above.
    *
    * Emits one row per CLOSED session: (user_id, session start/end,
    * n_events). Append mode: rows appear only after the watermark
    * passes the session end, so results are final — no retractions. */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("t_start"),
        col("w.end").as("t_end"), col("n_events"))

  /** Streaming exact dedup — the streaming twin of
    * `graft.ops.Dedup.dedupExact`: keeps the first arrival per key,
    * with dedup state EVICTED once the key's event time falls behind
    * the watermark (`dropDuplicatesWithinWatermark`), so state is
    * bounded by the watermark horizon, not stream lifetime. A plain
    * `dropDuplicates` on an unbounded stream grows state forever —
    * the 100 TB/∞-time failure mode this exists to avoid. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String = "ts", delay: String = "1 hour"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Incremental near-dup candidate maintenance: each arriving doc
    * emits its LSH band keys ROW-LOCALLY (`Dedup.lshBandKeys` — the
    * stateless MinHash-column form; a per-doc aggregation would keep
    * unbounded stream state) and joins them against a STATIC indexed
    * band table, yielding (new_id, candidate_id) pairs for the exact
    * verify stage. Stream–static inner join: no watermark, no state —
    * the index side is a bounded batch frame (refresh it by restarting
    * the query or via the upsert-sink snapshot pattern). Pairs are NOT
    * deduplicated across bands (a streaming distinct would be
    * stateful); the downstream verify treats candidate pairs as a set,
    * and `Dedup.jaccardOnPairs`-style verifies are idempotent per
    * pair. */
  def nearDupCandidatesStream(docs: DataFrame, textCol: Column,
      idCol: Column, indexBands: DataFrame,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3): DataFrame =
    candidateJoin(graft.ops.Dedup
      .lshBandKeys(docs, textCol, idCol, numHashes, bands, shingleLen),
      indexBands, "h")

  /** The shared stream–static candidate plumbing of the MinHash and
    * SimHash twins: index side renamed to reserved (__i-prefixed)
    * names so caller columns cannot collide, equi-join on
    * (band, key), self-pairs excluded. One definition — the r8
    * reserved-join-keys fix had to touch both copies; now there is
    * one. */
  private def candidateJoin(newKeys: DataFrame, indexBands: DataFrame,
      keyCol: String): DataFrame = {
    val idx = indexBands.select(col("band").as("__iband"),
      col(keyCol).as("__ik"), col("id").as("candidate_id"))
    newKeys.join(idx,
        col("band") === col("__iband") && col(keyCol) === col("__ik") &&
          col("id") =!= col("candidate_id"))
      .select(col("id").as("new_id"), col("candidate_id"))
  }

  /** Incremental SimHash near-dup candidates — the Hamming-blocking
    * twin of [[nearDupCandidatesStream]]: each arriving doc computes
    * its signature ROW-LOCALLY (`Dedup.simHashRowLocal` — the batch
    * signature is a per-doc aggregation, which on a stream is
    * unbounded state) and its band keys join stream–static against an
    * indexed band table (`Dedup.simHashBandKeys` over the corpus, or
    * the persisted signature index). Same contracts as the MinHash
    * twin: no watermark, no state, pairs not deduplicated across
    * bands — the downstream exact `bit_count(xor)` verify is
    * idempotent per pair. */
  def simHashCandidatesStream(docs: DataFrame, textCol: Column,
      idCol: Column, indexBands: DataFrame,
      nBits: Int, nBands: Int): DataFrame = {
    // No nBits/nBands defaults on this STATE-PROBING api: the index
    // side is persisted state, and a default that drifts (the r9
    // 32 -> 64 migration) would make every probe join to zero
    // candidates silently. The caller states the width the index was
    // built at, and checkedBandIndex raises on any row that
    // contradicts it.
    candidateJoin(graft.ops.Dedup
      .simHashBandKeys(docs, textCol, idCol, nBits, nBands),
      graft.ops.Dedup.checkedBandIndex(indexBands, nBits, nBands), "bh")
  }

  /** Streaming IVF probe — the online ANN serving twin of
    * `graft.ops.Similarity.ivfTopKBatch`: a stream of query vectors
    * scored against a STATIC trained index (the centroid model inlined
    * as literals, the assigned inverted lists as the static join
    * side), emitting (qid, id, cos, probe_rank) candidates.
    *
    * Stream–static equi-join on cluster id: no watermark, no state —
    * same contract as [[nearDupCandidatesStream]]'s band index; the
    * index refreshes by query restart or the upsert-sink snapshot
    * pattern. Per-query top-k belongs in the consumer's micro-batch
    * (rank needs aggregation; all of one query's candidates land in
    * its own micro-batch) — StreamingSpec asserts batch parity with
    * ivfTopKBatch through exactly that sink-side rank. */
  def ivfProbeStream(queries: DataFrame, queryIdCol: Column,
      queryVec: Column, centroids: Seq[(Int, Seq[Double])],
      assigned: DataFrame, nprobe: Int = 4): DataFrame =
    graft.ops.Similarity.ivfProbeCandidates(
      queries, queryIdCol, queryVec, centroids, assigned, nprobe)

  case class TrainDoc(doc_id: Long, text: String)

  /** Streaming decontamination — the streaming twin of
    * `graft.ops.TrainPrep.decontaminate`: drop arriving training
    * documents sharing ≥ `minOverlap` distinct `shingleLen`-gram
    * shingles with a STATIC eval corpus.
    *
    * Why not the batch shape (explode → join → groupBy(doc))? A
    * streaming aggregation keyed by doc id keeps one state row per
    * document FOREVER (docs have no event time to watermark on) —
    * unbounded state on an unbounded stream. Instead the eval shingle
    * set — benchmark-sized by construction, the same model-like-state
    * argument as the IVF centroids — is collected once and BROADCAST,
    * and each document's verdict is computed row-locally from its own
    * text: zero streaming state, trivially exactly-once under replay,
    * with an early exit at `minOverlap` so the common contaminated-doc
    * case never scans its full text. */
  def decontaminateStream(docs: Dataset[TrainDoc], evalShingles: DataFrame,
      shingleLen: Int = 3, minOverlap: Int = 5): Dataset[TrainDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val evalSet = evalShingles.select(col("s")).distinct().as[String]
      .collect().toSet
    val bc = spark.sparkContext.broadcast(evalSet)
    docs.filter { d =>
      // null text: KEEP, matching the batch twin (Dedup.shingles
      // null-propagates — a null doc emits no shingles, so it can
      // never be contaminated); an unguarded split would NPE and kill
      // the whole continuous query on one malformed record
      if (d.text == null) true else {
      // limit -1: keep trailing empty tokens, matching Spark's split()
      // in Dedup.shingles — without it a trailing space makes the two
      // operators disagree on boundary shingles and doc eligibility
      val w = d.text.split(" ", -1)
      if (w.length < shingleLen) true
      else {
        val set = bc.value
        val seen = scala.collection.mutable.HashSet.empty[String]
        var overlap = 0
        var i = 0
        while (i + shingleLen <= w.length && overlap < minOverlap) {
          val s = w.slice(i, i + shingleLen).mkString(" ")
          if (seen.add(s) && set.contains(s)) overlap += 1
          i += 1
        }
        overlap < minOverlap
      }
      }
    }
  }

  /** Watermarked stream-stream interval join: pair each left-stream
    * row with the right-stream rows of the same `key` whose event time
    * falls in `[left.ts, left.ts + within]` — attribution / enrichment
    * across two live streams (click→purchase, event→fact), inner join,
    * append mode.
    *
    * State bounds (the reason this shape survives an unbounded
    * stream): BOTH sides carry a watermark and the join predicate
    * carries an explicit time range, so Spark derives how long each
    * side's rows can still find partners and evicts buffered state
    * past `watermark + within`. A stream-stream join without the range
    * constraint buffers both streams forever. Right columns come back
    * `r_`-prefixed.
    *
    * Scale: state and shuffle are keyed by (`key`) — the same hash
    * exchange a batch equi-join would do, with the buffer bounded by
    * the interval, not stream lifetime. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      key: String = "user_id", tsCol: String = "ts",
      delay: String = "1 hour", within: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, delay)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")): _*)
      .withWatermark(s"r_$tsCol", delay)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col(s"r_$tsCol") >= col(tsCol) &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $within"))
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class SessionState(sessionId: Long, lastTs: Long, count: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long)

  case class TypedEvent(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String)
  case class FunnelState(stage: Int, tReached: Long)
  case class FunnelOut(user_id: Long, stage: Long, stage_name: String,
    t_reached: java.sql.Timestamp)

  /** Stateful streaming conversion funnel — the incremental form of
    * `graft.ops.Behavior.funnelCounts`: per user, advance through the
    * ORDERED `stages` sequence; stage k+1 is reached by the first
    * `stages(k+1)` event at-or-after the stage-k completion time.
    * Emits one row per stage ADVANCEMENT (update stream — downstream
    * counts distinct users per stage for the live funnel dashboard).
    *
    * Agrees with the batch operator on any IN-ORDER prefix of the
    * event log (spec-asserted, including equal-timestamp stage
    * chains: the batch gate is `>=`, so a batch's events are
    * re-scanned until no further stage advances — a purchase sharing
    * its timestamp with the click that unlocks it converts even when
    * the sort visits it first). The monotone state (stage index +
    * completion time) means a LATE event (arriving after later
    * event-times were already processed) can never regress a user;
    * it may under-count relative to a batch re-run over the full log
    * — the inherent streaming-vs-batch gap for out-of-order delivery
    * without buffering. Feed event-time-ordered batches (the file
    * source's natural order) for exact parity.
    *
    * State is ONE (stage, ts) pair per user — bounded by |users| like
    * the session state above, constant per key, no growth with stream
    * length; pair with state TTL in production for user churn. */
  def funnelStream(events: Dataset[TypedEvent], stages: Seq[String]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var s = state.getOption.getOrElse(FunnelState(-1, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          // one full scan per stage advance (≤ |stages| scans,
          // batch-local), taking the FIRST qualifying event for
          // exactly the next stage each time — the literal batch
          // semantics (min qualifying ts per stage, >= gate), so an
          // equal-ts qualifying event sorted BEFORE its unlocking
          // stage still converts, and a chained advance can never
          // skip past an earlier-sorted minimal event
          var advanced = true
          while (advanced) {
            val next = s.stage + 1
            val hit =
              if (next >= stages.length) None
              else sorted.find(e => e.event_type == stages(next) &&
                (s.stage < 0 || e.ts.getTime >= s.tReached))
            advanced = hit.isDefined
            hit.foreach { e =>
              s = FunnelState(next, e.ts.getTime)
              out += FunnelOut(userId, next.toLong + 1, stages(next),
                new java.sql.Timestamp(e.ts.getTime))
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Stateful 30-minute-gap sessionization via flatMapGroupsWithState —
    * the custom-state path the reference cannot express at all.
    *
    * Every session TOUCHED in a trigger is emitted: sessions that both
    * open and close inside one micro-batch are flushed with their
    * final counts (a mapGroupsWithState single-row emit would lose
    * them), and the still-open session is emitted with its running
    * count — downstream keeps the max n_events per (user, session).
    *
    * State is one (sessionId, lastTs, count) triple per user —
    * constant-size per key, so state store growth is bounded by
    * |users|, not |events|; pair with watermark + state TTL in
    * production. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (s.lastTs == Long.MinValue || t - s.lastTs > gapMs) {
              if (s.sessionId > 0) closed += SessionOut(userId, s.sessionId, s.count)
              s = SessionState(s.sessionId + 1, t, 1L)
            } else s = s.copy(lastTs = t, count = s.count + 1)
          }
          state.update(s)
          (closed += SessionOut(userId, s.sessionId, s.count)).iterator
      }
  }

  /** Replay-protection run tag for a foreachBatch sink. Derived from
    * the streaming query id persisted in `<checkpointDir>/metadata` —
    * stable across restarts of the same checkpoint, but FRESH when an
    * operator wipes the checkpoint and reuses the directory (batch ids
    * restart at 0 then; a path-derived tag would match the old run's
    * markers and silently skip the first batches — data loss). Read at
    * batch time because the metadata file only exists once the query
    * has started; the fallback path-hash covers bespoke callers that
    * invoke the batch appliers outside a streaming query. */
  private[graft] def runTag(spark: SparkSession,
      checkpointDir: String): String = {
    // DELIBERATELY un-memoized: the read looks cacheable (one metadata
    // GET per trigger), but the cache key would be the checkpoint
    // PATH, and a wiped-and-reused checkpoint carries a NEW query id
    // under the SAME path — a cached tag would resurrect the stale id
    // and re-enable the exact marker-skip hazard this tag exists to
    // close (StreamingSpec "run tag tracks the streaming query id").
    // One small GET per trigger is the price of that correctness.
    val meta = new Path(checkpointDir, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fromQueryId =
      if (!fs.exists(meta)) None
      else {
        val in = fs.open(meta)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r
          .findFirstMatchIn(body).map(_.group(1).replace("-", "").take(8))
      }
    fromQueryId.getOrElse(
      java.security.MessageDigest.getInstance("MD5")
        .digest(checkpointDir.getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString)
  }

  /** Incremental upsert sink: replaces the reference's daily full
    * recompute (fetch_stocks.py:152-161). The stream runs in UPDATE
    * mode — watermarks stay effective (late data is dropped, closed
    * windows evict from state, so state is bounded by open windows,
    * not stream lifetime).
    *
    * A published snapshot is a CHAIN of layer directories: a base,
    * then deltas in order. Each micro-batch writes only its own rows,
    * as one new delta layer (one Spark job). Every layer's `_CHAIN`
    * file holds its publish sequence number (one more than the layer
    * it was published on), and a delta's also the key columns and the
    * layers beneath it; the `_LATEST` pointer, written to a temp name
    * and RENAMED over, names the newest layer. Readers
    * ([[readLatestSnapshot]], the serve layer) read the chain in one
    * pass with the merge a batch used to apply to the whole snapshot:
    * every row of the newest layer that holds a key wins (duplicate
    * keys within one batch all survive, as before; a row with a null
    * key column is never replaced). Once the deltas' bytes pass
    * [[FoldRatio]] × the base's bytes, or the chain holds [[MaxLayers]]
    * layers, the next batch folds the chain and itself into a new base
    * instead, so the chain, and the read of it, stays bounded in bytes
    * and in layers.
    *
    * Recovery contract: foreachBatch is AT-LEAST-ONCE — after a crash
    * between the pointer flip and the checkpoint commit the same
    * batchId re-runs. Layer names carry a run tag (derived from the
    * streaming query id) besides the batchId, and the replay guard
    * skips the re-apply when the batch's own layer is already in the
    * chain of the newest COMPLETE layer — the run tag keeps a fresh
    * stream (new checkpoint, restarted batch ids) over an existing
    * outDir from mistaking the old run's batches for its own replays.
    * A crash before the flip leaves the pointer on the old chain (an
    * unflipped delta or a half-written fold is rewritten by the
    * replay). A crash in the delete→rename pointer window loses only
    * the pointer, not the data: the writer falls back to the complete
    * (_SUCCESS-marked) layer with the highest publish sequence, whose
    * `_CHAIN` is written before its data, and re-flips the pointer.
    * Batch ids do not order layers across runs (a fresh run restarts
    * them at 0 on the old run's chain); the sequence does.
    *
    * Pointer atomicity: rename is atomic on HDFS/local filesystems, so
    * readers there see either the old or the new pointer. On S3A,
    * rename is copy+delete and there is additionally a delete→rename
    * window — `readLatestSnapshot` retries on a missing pointer to
    * cover both. Layers of neither the new chain nor the previous one
    * are retired (the previous chain is the grace copy for in-flight
    * readers). Swap the directory flip for a transactional table
    * format where one is available. */
  def upsertSink(agg: DataFrame, keyCols: Seq[String], outDir: String,
      checkpointDir: String) = {
    agg.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, batchId, keyCols, outDir,
          runTag(batch.sparkSession, checkpointDir))
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** Streaming CDC apply — the 14th variant: a change feed
    * (key, attrs…, op ∈ I/U/D, ts) continuously folded into the
    * versioned snapshot at `outDir` via `graft.etl.ChangeApply`, one
    * micro-batch per apply.
    *
    * Recovery contract: foreachBatch is AT-LEAST-ONCE, and that is
    * sufficient here WITHOUT a replay guard — ChangeApply.merge is
    * version-guarded (a replayed change's ts is never newer than the
    * stored `__ts`, so re-applying a batch is a no-op) and
    * batch-slicing invariant (a restart that re-slices the source
    * converges to the same snapshot). The publish crash window is
    * closed by `Swap.open`'s recovery inside `advance`. Read the live table
    * with `ChangeApply.current(spark.read.parquet(outDir))`. */
  def cdcApplySink(changes: DataFrame, key: String, attrs: Seq[String],
      outDir: String, checkpointDir: String,
      opCol: String = "op", tsCol: String = "ts") =
    changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.ChangeApply.advance(batch.sparkSession, outDir, batch,
          key, attrs, opCol, tsCol): Unit
      }
      .option("checkpointLocation", checkpointDir)

  /** Streaming SCD2 dimension maintenance — the streaming twin of
    * `graft.etl.Scd2`: each micro-batch of updates folds into the
    * versioned dimension at `outDir` via `Scd2.advance`, so the
    * history-keeping dimension stays current against an update feed
    * with no full rebuild. foreachBatch is AT-LEAST-ONCE; like
    * [[cdcApplySink]] (and unlike the sketch/spread sinks) NO
    * applied-batch marker is needed because re-applying the most
    * recent batch is a no-op — an update that applied now matches its
    * open row's valid_from (the stale guard drops it) and a no-op
    * update stays one. Forward-only contract as the batch form:
    * update ts must not regress across micro-batches (late updates
    * are dropped as stale, never rewrite closed history). */
  def scd2Sink(updates: DataFrame, key: String, tsCol: String,
      attrs: Seq[String], outDir: String, checkpointDir: String) =
    updates.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Scd2.advance(batch.sparkSession, outDir, batch,
          key, tsCol, attrs): Unit
      }
      .option("checkpointLocation", checkpointDir)

  /** Streaming exact-rollup maintenance — the streaming twin of
    * `graft.etl.IncrementalAgg`: each micro-batch folds into the
    * persisted per-group moment state (count/sum/min/max/sum-of-
    * squares in exact DECIMAL), so the rollup stays fresh with
    * O(|batch| + |touched groups|) per trigger and no engine-managed
    * aggregation state. Moment state is ADDITIVE — a replayed batch
    * would double every count — so this sink routes through
    * `IncrementalAgg.advanceBatch`, whose applied-batch marker
    * `(runTag, batchId)` publishes atomically with the folded state:
    * at-least-once redelivery is a no-op, same contract as
    * [[sketchRollupSink]]. */
  def incrementalAggSink(rows: DataFrame, keys: Seq[String],
      valueCol: String, statePath: String, checkpointDir: String) =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.etl.IncrementalAgg.advanceBatch(batch.sparkSession, statePath,
          batch, keys, valueCol, batchId,
          runTag(batch.sparkSession, checkpointDir)): Unit
      }
      .option("checkpointLocation", checkpointDir)

  /** Streaming sketch-state maintenance — the streaming twin of
    * `graft.etl.SketchRollup`: each micro-batch of raw rows is folded
    * into the persisted per-group sketch state (HLL distinct, KLL
    * quantiles, MinHash signature) at `statePath`, so corpus
    * statistics stay fresh without any full recompute — and without
    * engine-managed aggregation state, since the sketch table IS the
    * state (the query itself is a stateless pass-through).
    *
    * Recovery contract: foreachBatch is AT-LEAST-ONCE and sketch
    * counts are NOT replay-tolerant (cnt would double), so this sink
    * routes through `SketchRollup.advanceBatch` — the applied-batch
    * marker is published atomically with the folded state, making a
    * replayed micro-batch a no-op. The run tag (the query id via
    * [[runTag]], as in `upsertSink`) keeps a fresh stream's restarted
    * batch ids — new checkpoint OR wiped-and-reused checkpoint — from
    * colliding with a previous run's markers. */
  def sketchRollupSink(rows: DataFrame, keys: Seq[String],
      cols: graft.etl.SketchRollup.Columns, statePath: String,
      checkpointDir: String) = {
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.etl.SketchRollup.advanceBatch(batch.sparkSession, statePath,
          batch, keys, cols, batchId,
          runTag(batch.sparkSession, checkpointDir)): Unit
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** Streaming boilerplate-registry maintenance — the streaming twin
    * of `graft.ops.SubstrDedup.advanceSpread`: each micro-batch of
    * documents folds its window-hash spread into the persisted
    * registry, so `stripAgainstRegistry` always scrubs against
    * everything ever streamed. Same idempotence contract as
    * `sketchRollupSink` (spread counts add, so replays must be
    * no-ops — applied-batch marker inside the state swap); same
    * append-only document-id contract as the batch form. */
  def boilerplateRegistrySink(docs: DataFrame, textCol: String,
      idCol: String, w: Int, statePath: String, checkpointDir: String) = {
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // names, not Columns: each micro-batch is a fresh frame, so a
        // caller's frame-bound Column could never resolve against it
        graft.ops.SubstrDedup.advanceSpreadBatch(batch.sparkSession,
          statePath, batch, col(textCol), col(idCol), w, batchId,
          runTag(batch.sparkSession, checkpointDir)): Unit
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** Streaming band-registry maintenance — the streaming twin of
    * `graft.ops.Dedup.advanceBandRegistry` (REGISTRIES.md): each
    * micro-batch of documents folds its row-local LSH band keys into
    * the persisted registry, so `candidatesAgainstRegistry` always
    * answers against everything ever streamed. The fold is a distinct
    * SET union — idempotent by construction — so unlike the spread /
    * sketch sinks NO applied-batch marker is needed: a replayed
    * micro-batch (restart from checkpoint, wiped checkpoint, anything)
    * re-unions the same keys and changes nothing. Same globally-unique
    * document-id contract as the batch form. */
  def bandRegistrySink(docs: DataFrame, textCol: String, idCol: String,
      statePath: String, checkpointDir: String,
      numHashes: Int = 8, bands: Int = 2, shingleLen: Int = 3) = {
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // names, not Columns: each micro-batch is a fresh frame, so a
        // caller's frame-bound Column could never resolve against it
        graft.ops.Dedup.advanceBandRegistry(batch.sparkSession,
          statePath, batch, col(textCol), col(idCol),
          numHashes, bands, shingleLen): Unit
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** Streaming JSONL intake — the streaming twin of the
    * `CorpusIO.readJsonl` → `advanceIntake` batch path: each
    * micro-batch of parsed lines (from `CorpusIO.readJsonlStream`)
    * splits into clean rows and quarantined raw lines, and both fold
    * into the published corpus state under `destDir` (clean = keyed
    * upsert; quarantine = distinct set-fold — see `advanceIntake` for
    * why at-least-once redelivery is a content no-op with no marker).
    * The dead-letter split thus SURVIVES the stream: a malformed line
    * lands in the published quarantine table, never as a nulled row
    * in the published corpus. */
  def jsonlIntakeSink(parsed: DataFrame,
      schema: org.apache.spark.sql.types.StructType, keyCol: String,
      destDir: String, checkpointDir: String) = {
    parsed.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.CorpusIO.advanceIntake(batch.sparkSession, destDir,
          keyCol, graft.sources.CorpusIO.cleanRows(batch, schema),
          graft.sources.CorpusIO.quarantinedLines(batch)): Unit
      }
      .option("checkpointLocation", checkpointDir)
  }

  /** The `_LATEST` pointer's target, opened DIRECTLY — an exists()
    * pre-check would race the writer's delete→rename flip (TOCTOU)
    * and turn the gap into a crash instead of None. The one
    * definition behind every pointer read (apply/poll/serve). */
  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      out: Path): Option[String] =
    try {
      val in = fs.open(new Path(out, "_LATEST"))
      Some(try new String(in.readAllBytes(), "UTF-8").trim finally in.close())
    } catch { case _: java.io.FileNotFoundException => None }

  /** Leading numeric id of a `snapshot_<id>[_<tag>]` name. */
  private def snapId(name: String): Option[Long] = {
    val digits = name.stripPrefix("snapshot_").takeWhile(_.isDigit)
    if (digits.isEmpty) None else scala.util.Try(digits.toLong).toOption
  }

  /** A chain folds into a new base once its deltas' data bytes pass
    * this multiple of its base's: a read of the chain then scans at
    * most about twice the bytes of one folded snapshot, and the fold's
    * full rewrite is paid once per base-sized run of deltas. */
  private[graft] val FoldRatio: Double = 1.0

  /** A chain also folds once it holds this many layers, whatever their
    * bytes: the writer lists every delta on every batch and a cold
    * read opens one footer per layer, so tiny deltas over a large base
    * (about base bytes / 3 KB of them before [[FoldRatio]] trips)
    * would grow both costs with the base. Set above the longest chain the
    * dashboard benchmark's writer builds (a base plus one delta per
    * writer day: ten layers). */
  private[graft] val MaxLayers: Int = 16

  /** A published snapshot as its layers, base first, the key columns
    * its deltas replace rows on (empty for a lone base), and the
    * publish sequence number of its newest layer. */
  private[graft] final case class Chain(layers: Seq[String], keys: Seq[String], seq: Long)

  /** The chain whose newest layer is `name`: the layers its `_CHAIN`
    * file lists, then `name`. A layer without the file (a name with no
    * directory) is a chain of one at sequence 0. */
  private def chainOf(fs: FileSystem, out: Path, name: String): Chain =
    try {
      val in = fs.open(new Path(new Path(out, name), "_CHAIN"))
      val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        finally in.close()
      def field(kind: String) = lines.filter(_.startsWith(kind + "\t")).map(_.drop(kind.length + 1))
      Chain(field("layer") :+ name, field("key"), field("seq").headOption.fold(0L)(_.toLong))
    } catch { case _: java.io.FileNotFoundException => Chain(Seq(name), Nil, 0L) }

  /** The chain of the snapshot `name` under `outDir`. */
  private[graft] def snapshotChain(spark: SparkSession, outDir: String,
      name: String): Chain = {
    val out = new Path(outDir)
    chainOf(out.getFileSystem(spark.sparkContext.hadoopConfiguration), out, name)
  }

  /** The snapshot `chain` holds, its layers merged in one pass. */
  private[graft] def readChain(spark: SparkSession, outDir: String,
      chain: Chain): DataFrame =
    if (chain.layers.size == 1) readParquet(spark, s"$outDir/${chain.layers.head}")
    else newestWins(tagged(spark, outDir, chain.layers), chain.keys)

  /** The column [[tagged]] holds a row's layer ordinal in. */
  private val Ord = "_graft_layer"

  /** The rows of `layers` (oldest first), each with its layer's
    * ordinal in column [[Ord]]: one scan of all their files when the
    * layers' footers agree on the columns (a file's layer is its
    * parent dir), else a union of one scan per layer. */
  private def tagged(spark: SparkSession, outDir: String, layers: Seq[String]): DataFrame = {
    val schemas = layers.map(l => footerSchema(spark, s"$outDir/$l"))
    def cols(s: StructType) = s.fields.toSeq.map(c => c.name -> c.dataType)
    schemas.head.filter(h => schemas.forall(_.exists(cols(_) == cols(h)))) match {
      case Some(schema) =>
        spark.read.schema(schema).parquet(layers.map(l => s"$outDir/$l"): _*)
          .withColumn(Ord, element_at(typedLit(layers.zipWithIndex.toMap),
            regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]*$", 1)))
      case None =>
        layers.zipWithIndex.map { case (l, i) => readParquet(spark, s"$outDir/$l").withColumn(Ord, lit(i)) }
          .reduceLeft(_.unionByName(_))
    }
  }

  /** The upsert merge of `tagged` rows: every row of the newest layer
    * ([[Ord]]) that holds its key, and every row with a null key
    * column (an equi-join matches none, so no later layer replaces
    * it). One window over the key: one exchange whatever the layer
    * count. */
  private def newestWins(tagged: DataFrame, keyCols: Seq[String]): DataFrame = {
    val top = "_graft_top"
    tagged.withColumn(top, max(col(Ord)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)))
      .filter(keyCols.map(col(_).isNull).reduce(_ || _) || col(Ord) === col(top))
      .drop(Ord, top)
  }

  /** Bytes of the data files of layer `name` (not `_`/`.` files). */
  private def dataBytes(fs: FileSystem, out: Path, name: String): Long =
    fs.listStatus(new Path(out, name)).iterator.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.map(_.getLen).sum

  /** One micro-batch of the upsert sink (see `upsertSink` scaladoc for
    * the chain and the recovery/atomicity contract). Idempotent per
    * (runTag, batchId) — replaying an already-applied batch is a
    * no-op. */
  private[graft] def applyUpsertBatch(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], outDir: String, runTag: String = "run"): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val ptrPath = new Path(out, "_LATEST")
    val target = s"snapshot_${batchId}_$runTag"
    val currentPtr = readPointer(fs, out)
    def success(name: String) = new Path(out, s"$name/_SUCCESS")
    def isComplete(name: String): Boolean = fs.exists(success(name))
    // chain head to build on: the pointer's target, or — writer
    // recovery after a crash inside the pointer window — the complete
    // layer published last: the highest publish sequence, the newer
    // _SUCCESS breaking a tie (a layer a crashed run wrote and never
    // flipped to carries the same sequence as the one published after
    // it). Never the highest batch id: a fresh run restarts its ids at
    // 0 on top of a previous run's chain.
    val prevSnapshot = currentPtr.filter(isComplete).orElse {
      if (!fs.exists(out)) None
      else fs.listStatus(out).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("snapshot_") && snapId(n).isDefined && isComplete(n))
        .maxByOption(n => (chainOf(fs, out, n).seq,
          fs.getFileStatus(success(n)).getModificationTime))
    }
    val prev = prevSnapshot.map(chainOf(fs, out, _))
    val next = prev match {
      // replay guard: this (runTag, batchId) already wrote a layer of
      // the chain
      case Some(c) if c.layers.contains(target) => c
      case _ =>
        val seq = prev.fold(0L)(_.seq + 1)
        val (rows, chain) = prev match {
          case Some(c) if c.layers.size > 1 && c.keys != keyCols ||
              c.layers.size >= MaxLayers ||
              c.layers.tail.map(dataBytes(fs, out, _)).sum >
                FoldRatio * dataBytes(fs, out, c.layers.head) =>
            val below =
              if (c.keys == keyCols) tagged(spark, outDir, c.layers)
              else readChain(spark, outDir, c).withColumn(Ord, lit(c.layers.size - 1))
            (newestWins(below.unionByName(batch.withColumn(Ord, lit(c.layers.size))), keyCols),
              Chain(Seq(target), Nil, seq))
          case Some(c) => (batch, Chain(c.layers :+ target, keyCols, seq))
          case None => (batch, Chain(Seq(target), Nil, seq))
        }
        val dir = new Path(out, target)
        fs.delete(dir, true)
        // the chain file goes in BEFORE the data: a complete
        // (_SUCCESS-marked) layer always has its sequence, and a
        // complete delta is never mistaken for a base
        val f = fs.create(new Path(dir, "_CHAIN"), true)
        try f.write((s"seq\t$seq" +: (chain.keys.map("key\t" + _) ++
            chain.layers.init.map("layer\t" + _))).mkString("", "\n", "\n").getBytes("UTF-8"))
        finally f.close()
        rows.write.mode("append").parquet(dir.toString)
        chain
    }
    val head = next.layers.last
    if (!currentPtr.contains(head)) {
      // (re-)flip pointer: write temp, rename over _LATEST
      val tmp = new Path(out, s"_LATEST.tmp_$batchId")
      val ptr = fs.create(tmp, true)
      try ptr.write(head.getBytes("UTF-8")) finally ptr.close()
      fs.delete(ptrPath, false)
      if (!fs.rename(tmp, ptrPath))
        throw new java.io.IOException(
          s"failed to flip _LATEST to $head (rename returned false)")
    }
    // retire every layer of neither the new chain nor the previous one
    // (the previous chain is the grace copy for in-flight readers of
    // the old pointer): a superseded chain, or a layer a crashed run
    // wrote and never flipped to. Foreign non-snapshot names are
    // ignored rather than crash-looping.
    val keep = prev.fold(Set.empty[String])(_.layers.toSet) ++ next.layers
    fs.listStatus(out).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("snapshot_") && snapId(name).isDefined && !keep(name))
        fs.delete(st.getPath, true)
    }
  }

  /** The snapshot name the `_LATEST` pointer currently names, if any
    * — the cheap poll for cache-refresh decisions (serve layer): one
    * pointer read, no parquet open. None while no snapshot has ever
    * been published (or during the writer's brief flip window). */
  def latestSnapshotName(spark: SparkSession, outDir: String): Option[String] = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readPointer(fs, out)
  }

  /** The snapshot name the `_LATEST` pointer names, retrying a missing
    * pointer briefly: writers flip it via delete→rename, and on object
    * stores the rename itself is non-atomic (copy+delete), so a reader
    * can catch the gap. */
  def awaitLatestSnapshotName(spark: SparkSession, outDir: String): String = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readPtr(attempt: Int): String = readPointer(fs, out) match {
      case Some(t) => t
      case None if attempt < 5 =>
        Thread.sleep(100L << attempt); readPtr(attempt + 1)
      case None => throw new java.io.FileNotFoundException(
        s"$outDir/_LATEST still absent after retries")
    }
    readPtr(0)
  }

  /** Read the snapshot the `_LATEST` pointer names (see
    * [[awaitLatestSnapshotName]]): its chain, merged. */
  def readLatestSnapshot(spark: SparkSession, outDir: String): DataFrame =
    readChain(spark, outDir,
      snapshotChain(spark, outDir, awaitLatestSnapshotName(spark, outDir)))

  /** `spark.read.parquet(dir)` without Spark's schema-inference job:
    * the schema is [[footerSchema]]'s. A dir with no top-level data
    * file (absent, empty, or partitioned into subdirs) falls back to
    * `spark.read.parquet`. */
  private[graft] def readParquet(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir).fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** The schema in the footer of `dir`'s first data file by path, read
    * on the driver — the one file Spark's own inference reads when
    * `mergeSchema` is off. None when `dir` has no top-level data file. */
  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val entries =
      try fs.listStatus(path).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    val first =
      if (entries.exists(_.isDirectory)) None
      else entries.minByOption(_.getPath.toString)
    first.flatMap(org.apache.spark.sql.execution.datasources.parquet
      .FooterBridge.schemaOf(spark, _))
  }
}
