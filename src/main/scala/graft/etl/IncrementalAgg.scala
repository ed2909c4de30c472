package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: keep a compact per-group state
  * table of MERGEABLE partial aggregates and fold each new batch in,
  * so refreshing a 100 TB rollup costs O(|delta| + |touched groups|)
  * instead of a full history rescan. This is the batch-side twin of
  * the streaming star upsert (`StreamingPipeline.upsertSink`): same
  * merge algebra, driven by arrival of files instead of micro-batches.
  *
  * State columns per group: `cnt, sm, mn, mx, smsq` — a commutative
  * monoid (sum/sum/min/max/sum), so folding is associative and batch
  * order never changes the state. `finalizeState` derives the
  * user-facing measures (count/sum/avg/min/max/variance/stddev) from
  * the moments. Sums are kept in DECIMAL so the folded state is
  * BIT-IDENTICAL to a from-scratch recompute — double sums would
  * drift with fold order (IncrementalAggSpec asserts the exact
  * equivalence and the order-invariance).
  *
  * Scale shape: `partialState(delta)` is a partial+final hash agg over
  * the delta only; the merge union shuffles O(|state| + |delta
  * groups|) rows — group cardinality, not history row count. For a
  * state table too big to reshuffle per batch, write it bucketed on
  * the keys (`Layout.writeBucketed`) and the merge joins without an
  * Exchange on the state side; the swap-publish pattern follows
  * `Layout.compact` (atomic on HDFS renames, racy-window documented
  * for object stores).
  */
object IncrementalAgg {

  /** DECIMAL(38,6) running sums: exact, fold-order-free, and wide
    * enough for 1e31 absolute sum — state-internal only (never a
    * declared final output, per SURVEY §7.3 rule 11). */
  private val SumT = "decimal(38,6)"

  /** Collapse `delta` to one state row per group. */
  def partialState(delta: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast(SumT)
    delta.groupBy(keys.map(col): _*).agg(
      count(v).as("cnt"),
      sum(v).as("sm"),
      min(v).as("mn"),
      max(v).as("mx"),
      sum(v * v).cast(SumT).as("smsq"))
  }

  /** Fold a delta's partial state into the existing state — the monoid
    * merge. Both inputs must share the state schema. */
  def mergeState(state: DataFrame, deltaState: DataFrame,
      keys: Seq[String]): DataFrame =
    state.unionByName(deltaState).groupBy(keys.map(col): _*).agg(
      sum(col("cnt")).as("cnt"),
      sum(col("sm")).cast(SumT).as("sm"),
      min(col("mn")).as("mn"),
      max(col("mx")).as("mx"),
      sum(col("smsq")).cast(SumT).as("smsq"))

  /** User-facing measures from the moments. Variance/stddev are the
    * population forms computed from exact decimal sums, so the result
    * is deterministic regardless of fold history. */
  def finalizeState(state: DataFrame, keys: Seq[String]): DataFrame = {
    val n = col("cnt").cast("double")
    val meanD = col("sm").cast("double") / n
    val varPop = col("smsq").cast("double") / n - meanD * meanD
    state.select(keys.map(col) ++ Seq(
      col("cnt").as("n_rows"),
      col("sm").as("sum_v"),
      meanD.as("avg_v"),
      col("mn").as("min_v"),
      col("mx").as("max_v"),
      greatest(varPop, lit(0.0)).as("var_pop_v")): _*)
  }

  /** Persisted form: fold `delta` into the state parquet at
    * `statePath` (bootstrapping it on first call; lifecycle contract:
    * REGISTRIES.md) and swap-publish the
    * new state. Returns the group count after the fold. */
  def advance(spark: SparkSession, statePath: String, delta: DataFrame,
      keys: Seq[String], valueCol: String): Long =
    fold(spark, statePath, delta, keys, valueCol, None)

  /** [[advance]] for AT-LEAST-ONCE feeds (same contract as
    * `SketchRollup.advanceBatch`): moment state is ADDITIVE, so a
    * replayed batch would double every count — the applied-batch
    * marker `(runTag, batchId)` is published atomically WITH the
    * folded state (inside the same swap), making redelivery a no-op.
    * The run tag keeps a restarted stream's batch ids (fresh or
    * wiped-and-reused checkpoint) from colliding with a previous
    * run's markers. */
  def advanceBatch(spark: SparkSession, statePath: String,
      delta: DataFrame, keys: Seq[String], valueCol: String,
      batchId: Long, runTag: String = "run"): Long =
    fold(spark, statePath, delta, keys, valueCol, Some((runTag, batchId)))

  private def fold(spark: SparkSession, statePath: String,
      delta: DataFrame, keys: Seq[String], valueCol: String,
      batch: Option[(String, Long)]): Long = {
    val state = Swap.open(spark, statePath)
    if (batch.exists { case (tag, id) => state.applied(tag, id) })
      return state.read().count()
    val deltaState = partialState(delta, keys, valueCol)
    state.publish(state.live.fold(deltaState)(mergeState(_, deltaState, keys)),
      marker = batch)(_.count())
  }
}
