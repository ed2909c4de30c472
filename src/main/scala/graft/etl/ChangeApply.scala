package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch CDC apply — MERGE INTO semantics over plain parquet
  * snapshots: fold a change feed of inserts/updates/deletes into a
  * current-state table. The type-1 complement of [[Scd2]] (which keeps
  * history) and the batch twin of the streaming upsert sink, extended
  * with delete tombstones and op codes — the shape of a
  * Debezium/binlog feed landed as files.
  *
  * The snapshot is VERSIONED: alongside the payload it stores `__ts`
  * (the applied change's time) and `__deleted` (tombstone flag).
  * Latest-ts-wins against the stored version makes the apply
  *  - idempotent (re-applying a batch is a no-op: equal ts keeps the
  *    snapshot row), and
  *  - slicing-invariant: applying batches one at a time equals
  *    applying their union in one call, for feeds whose (key, ts)
  *    pairs are unique (binlog offsets are) — a late change older
  *    than the applied one is dropped, and tombstones block
  *    resurrection by late pre-delete changes.
  * Read the live table via [[current]]; reclaim tombstone space past
  * the late-data horizon with [[expire]] (after which a change older
  * than an expired delete WOULD resurrect the key — the standard
  * compaction-retention trade, stated rather than hidden).
  *
  * 100 TB shape: one window over the CHANGES only (typically ≪
  * snapshot), then one full-outer hash join on the key — the snapshot
  * is never sorted and untouched keys stream through; cost follows
  * |snapshot| + |changes|, with `Layout.writeBucketed` on the key
  * deleting the snapshot-side exchange for recurring applies.
  */
object ChangeApply {

  val Insert = "I"; val Update = "U"; val Delete = "D"

  /** Live rows of a versioned snapshot, meta columns dropped. */
  def current(snapshot: DataFrame): DataFrame =
    snapshot.filter(!col("__deleted")).drop("__ts", "__deleted")

  /** Drop tombstones older than `horizonTs` — run at the late-data
    * retention boundary, like a watermark. */
  def expire(snapshot: DataFrame, horizonTs: Column): DataFrame =
    snapshot.filter(!(col("__deleted") && col("__ts") < horizonTs))

  /** Collapse `changes` (key, attrs…, `opCol`, `tsCol`) to the winning
    * change per key and merge into the versioned `snapshot`
    * (key, attrs…, __ts, __deleted). */
  def merge(snapshot: DataFrame, changes: DataFrame, key: String,
      attrs: Seq[String], opCol: String = "op",
      tsCol: String = "ts"): DataFrame = {
    require(attrs.nonEmpty, "attrs must name at least one payload column")
    // null key/ts guards, per row at execution: a null-key change
    // inserts an all-null junk row (it joins nothing, changeWins is
    // false, and the coalesced key is null) that every later merge
    // re-emits forever; a null-ts INSERT freezes its key (no later
    // change's `ts > null` ever evaluates true). Malformed input —
    // fail loudly rather than corrupt the snapshot.
    val changesG = changes
      .withColumn(key, when(col(key).isNull, raise_error(lit(
          s"ChangeApply.merge: null '$key' in changes — a keyless " +
            "change can only produce a junk snapshot row"))).otherwise(col(key)))
      .withColumn(tsCol, when(col(tsCol).isNull, raise_error(lit(
          s"ChangeApply.merge: null '$tsCol' in changes — version " +
            "ordering cannot compare a null timestamp"))).otherwise(col(tsCol)))
    // batch-internal total order: ts, then op/attrs as deterministic
    // tiebreak for pathological equal-ts changes to one key.
    // Deliberately a rank window, NOT an aggregate: winner-per-key
    // with a row payload cannot hash-aggregate in Spark — max_by over
    // struct ordering plans as SortAggregate (struct buffers are not
    // UnsafeRow-mutable), which sorts BOTH the partial and final
    // stages, and a TypedImperativeAggregate's ObjectHashAggregate
    // falls back to sort-based past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
    // distinct keys per partition — CDC batches exceed that
    // immediately. One exchange + one per-partition sort of the
    // changes batch only is the minimal plan.
    val ordered = Window.partitionBy(col(key))
      .orderBy((col(tsCol) +: col(opCol) +: attrs.map(col)).map(_.desc): _*)
    val latest = changesG
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") === 1).drop("__rn")

    val j = snapshot.as("s").join(latest.as("c"),
      col(s"s.$key") === col(s"c.$key"), "full_outer")
    // the stored version guards staleness: only strictly newer
    // changes replace the row (equality = the same change, re-applied)
    val changeWins = col(s"c.$key").isNotNull &&
      (col(s"s.$key").isNull || col(s"c.$tsCol") > col("s.__ts"))
    j.select(
      coalesce(col(s"c.$key"), col(s"s.$key")).as(key) +:
      attrs.map(a => when(changeWins, col(s"c.$a"))
        .otherwise(col(s"s.$a")).as(a)) :+
      when(changeWins, col(s"c.$tsCol")).otherwise(col("s.__ts")).as("__ts") :+
      when(changeWins, col(s"c.$opCol") === Delete)
        .otherwise(col("s.__deleted")).as("__deleted"): _*)
  }

  /** Persisted form mirroring [[IncrementalAgg.advance]]: fold a
    * change batch into the versioned snapshot parquet at `path`
    * (bootstrapping on first call) and swap-publish. Returns the LIVE
    * row count after the apply. */
  def advance(spark: SparkSession, path: String, changes: DataFrame,
      key: String, attrs: Seq[String], opCol: String = "op",
      tsCol: String = "ts"): Long = {
    val snapshot = Swap.open(spark, path, "__applying")
    val empty = changes
      .select(col(key) +: attrs.map(col) :+ col(tsCol).as("__ts") :+
        lit(false).as("__deleted"): _*)
      .limit(0)
    val base = snapshot.live.getOrElse(empty)
    snapshot.publish(merge(base, changes, key, attrs, opCol, tsCol))(
      current(_).count())
  }
}
