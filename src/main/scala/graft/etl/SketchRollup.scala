package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MinHashAgg

/** Incremental SKETCH-state maintenance: the approximate twin of
  * [[IncrementalAgg]]. Where IncrementalAgg folds exact decimal
  * moments, this folds per-group MERGEABLE sketches — HLL distinct
  * state, a KLL quantile sketch, and a MinHash signature — so the
  * statistics a 100 TB corpus dashboard needs (distinct users/docs,
  * latency/length quantiles, content-drift similarity) refresh at
  * O(|delta| + |touched groups| × sketch bytes) instead of a full
  * history rescan. The reference recomputes its dashboard aggregates
  * from the whole star on every load (streamlit/app.py:38-74); this is
  * the shape that survives when "the whole star" is 100 TB.
  *
  * Why sketches and not the exact moments: COUNT(DISTINCT), quantiles
  * and set similarity are NOT algebraic — their exact forms need the
  * full value multiset, so no compact exact state exists to fold. The
  * sketch states are bounded (HLL: 2^lgK registers ≈ 4 KB; KLL: O(k
  * log n); MinHash: numHashes × 16 B) and merge associatively:
  *   - HLL registers merge by elementwise max → the merged sketch is
  *     VALUE-DETERMINED (same registers as a one-shot build over the
  *     union), so estimates are fold-order invariant.
  *   - MinHash minima merge by elementwise min — same property.
  *   - KLL merges with bounded rank error but randomized compaction,
  *     so merged quantiles are only guaranteed within the sketch's
  *     error envelope, not bit-identical (the spec asserts the
  *     envelope, not equality — the honest contract).
  *
  * Merge shape: state ⟗ deltaState on the keys, pairwise scalar sketch
  * unions (`hll_union`, `kll_sketch_merge_double`, `zip_with(least)`)
  * — one join, state side never re-aggregated. Write the state table
  * bucketed on the keys (`Layout.writeBucketed`) and the state side
  * joins without an Exchange; untouched groups stream through.
  */
object SketchRollup {

  /** Which columns feed each sketch: `distinctCol` → HLL cardinality
    * (int/long/string/binary — pick one representation and keep it
    * stable across batches, the sketch hashes raw bytes),
    * `quantileCol` → KLL doubles, `textCol` → MinHash signature. */
  final case class Columns(distinctCol: String, quantileCol: String,
      textCol: String)

  /** HLL lgConfigK: 2^12 registers ≈ 4 KB/group, ~1.6% RSE. */
  val LgK = 12
  /** KLL k: ~1.65% rank error at 99% confidence. */
  val KllK = 200
  /** MinHash signature width: Jaccard RSE ≈ 1/√16 = 25% per pair —
    * a drift detector, not a verifier (verification stays n-gram
    * Jaccard on candidates, as in the dedup path). */
  val NumHashes = 16

  private val stateCols = Seq("cnt", "hll", "kll", "sig")

  /** Collapse `delta` to one sketch-state row per group — a partial+
    * final hash aggregate over the delta only. */
  def partialState(delta: DataFrame, keys: Seq[String],
      cols: Columns): DataFrame =
    delta.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      hll_sketch_agg(col(cols.distinctCol), LgK).as("hll"),
      kll_sketch_agg_double(col(cols.quantileCol).cast("double"), KllK)
        .as("kll"),
      MinHashAgg.minhash(col(cols.textCol), NumHashes).as("sig"))

  /** Fold a delta's state into the existing state: one full-outer key
    * join, pairwise sketch unions. Groups present on only one side
    * pass through untouched. */
  def mergeState(state: DataFrame, deltaState: DataFrame,
      keys: Seq[String]): DataFrame = {
    val s = state.select(keys.map(col) ++
      stateCols.map(c => col(c).as(s"s_$c")): _*)
    val d = deltaState.select(keys.map(col) ++
      stateCols.map(c => col(c).as(s"d_$c")): _*)
    def m2(name: String)(f: (Column, Column) => Column): Column = {
      val (a, b) = (col(s"s_$name"), col(s"d_$name"))
      when(a.isNull, b).when(b.isNull, a).otherwise(f(a, b)).as(name)
    }
    s.join(d, keys, "full_outer").select(keys.map(col) ++ Seq(
      m2("cnt")(_ + _),
      m2("hll")(hll_union(_, _)),
      m2("kll")(kll_sketch_merge_double(_, _)),
      m2("sig")((a, b) => zip_with(a, b, least(_, _)))): _*)
  }

  /** User-facing report: exact row count, HLL distinct estimate, KLL
    * quantile estimates at `probs` (`q_0..q_{n-1}` in `probs` order),
    * and the signature (for [[signatureJaccard]] drift checks). */
  def finalizeState(state: DataFrame, keys: Seq[String],
      probs: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    state.select(keys.map(col) ++ Seq(
      col("cnt").as("n_rows"),
      hll_sketch_estimate(col("hll")).as("distinct_est")) ++
      probs.zipWithIndex.map { case (p, i) =>
        kll_sketch_get_quantile_double(col("kll"), lit(p)).as(s"q_$i")
      } ++ Seq(col("sig")): _*)

  /** Estimated per-group Jaccard similarity between two state
    * versions' text signatures — the corpus-drift probe ("how much
    * did this partition's content change since the last snapshot?").
    * Output: keys + `jaccard_est` ∈ [0,1]; groups absent from either
    * side are omitted (no signature to compare). */
  def signatureJaccard(stateA: DataFrame, stateB: DataFrame,
      keys: Seq[String]): DataFrame = {
    val a = stateA.select(keys.map(col) :+ col("sig").as("sig_a"): _*)
    val b = stateB.select(keys.map(col) :+ col("sig").as("sig_b"): _*)
    a.join(b, keys).select(keys.map(col) :+
      (aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), _ + _).cast("double") / size(col("sig_a")))
        .as("jaccard_est"): _*)
  }

  /** Persisted form: fold `delta` into the state parquet at
    * `statePath` (bootstrapping on first call; lifecycle contract:
    * REGISTRIES.md), swap-publish, return
    * the group count — the same crash-safe lifecycle as
    * [[IncrementalAgg.advance]]. NOT idempotent: re-folding the same
    * delta double-counts `cnt` and re-inserts into KLL (HLL registers
    * and MinHash minima alone WOULD absorb a replay, but the exact
    * count would lie). Drive replay-prone feeds through
    * [[advanceBatch]] instead. */
  def advance(spark: SparkSession, statePath: String, delta: DataFrame,
      keys: Seq[String], cols: Columns): Long =
    fold(spark, statePath, delta, keys, cols, None)

  /** Idempotent form for at-least-once feeds (foreachBatch replays a
    * micro-batch after a sink crash): an `_applied_<runTag>_<id>`
    * marker rides INSIDE the swapped state directory — underscore
    * files are invisible to the parquet reader, and the atomic rename
    * publishes state and marker together, so "folded" and "marked"
    * can never diverge. A replayed (runTag, batchId) is a no-op. */
  def advanceBatch(spark: SparkSession, statePath: String,
      delta: DataFrame, keys: Seq[String], cols: Columns,
      batchId: Long, runTag: String = "run"): Long =
    fold(spark, statePath, delta, keys, cols, Some((runTag, batchId)))

  private def fold(spark: SparkSession, statePath: String,
      delta: DataFrame, keys: Seq[String], cols: Columns,
      batch: Option[(String, Long)]): Long = {
    val state = Swap.open(spark, statePath)
    if (batch.exists { case (tag, id) => state.applied(tag, id) })
      return state.read().count()
    val deltaState = partialState(delta, keys, cols)
    state.publish(state.live.fold(deltaState)(mergeState(_, deltaState, keys)),
      marker = batch)(_.count())
  }
}
