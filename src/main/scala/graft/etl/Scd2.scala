package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension maintenance — the versioned form
  * of the reference's dimension rebuild (`fetch_stocks.py:186-203`
  * recreates dim tables wholesale each day; at warehouse scale the
  * dimensions keep HISTORY instead: each key holds a chain of rows
  * `[valid_from, valid_to)` with exactly one open row per key).
  *
  * Determinism: several updates for one key in a single batch are
  * applied in (ts, then attribute lexicographic) order — a total
  * order, so the surviving chain is partition-independent. Attribute
  * comparison is null-safe (`<=>`): a null attribute equals null,
  * changes to/from null version correctly.
  *
  * 100 TB shape: ONE hash shuffle of each side on the dimension key
  * (the outer join); closed history rows pass through untouched —
  * the merge cost follows |open rows| + |updates|, never |history|.
  * Updates per batch are typically ≪ dimension size, so AQE turns the
  * join broadcast when stats allow.
  */
object Scd2 {

  /** Merge `updates` (key, attrs…, `tsCol`) into the versioned
    * dimension `current` (key, attrs…, valid_from, valid_to; open rows
    * have valid_to IS NULL). Returns the full new versioned table.
    *
    * A key's open row is closed (valid_to = update ts) and a new open
    * row appended whenever any attribute differs null-safely; updates
    * identical to the open row are no-ops (idempotent re-application).
    * Unknown keys insert a fresh open row.
    *
    * Out-of-order batches: an update whose ts is AT OR BEFORE its
    * key's open-row valid_from is STALE — applying it would close the
    * open row with valid_to <= valid_from (an inverted/empty interval
    * that `asOf` can never return). Stale updates are dropped as
    * no-ops; rewriting already-closed history from late data is a
    * bitemporal backfill, out of scope for this forward-only merge. */
  def merge(current: DataFrame, updates: DataFrame, key: String,
      tsCol: String, attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "attrs must name at least one tracked column")
    val history = current.filter(col("valid_to").isNotNull)
    val open = current.filter(col("valid_to").isNull)
    // null key/ts guards, enforced per row AT EXECUTION: a null key
    // never matches the full-outer join (an all-null phantom open
    // row), and a null ts makes the stale predicate three-valued —
    // the update row then fails ALL three output filters and the
    // key's open row VANISHES silently. Both are malformed input for
    // a temporal merge; fail loudly. (withColumn replaces the column,
    // so the guard cannot be pruned — it feeds the join/ordering.)
    val updatesG = updates
      .withColumn(key, when(col(key).isNull, raise_error(lit(
          s"Scd2.merge: null '$key' in updates — a keyless update can " +
            "only produce a phantom dimension row"))).otherwise(col(key)))
      .withColumn(tsCol, when(col(tsCol).isNull, raise_error(lit(
          s"Scd2.merge: null '$tsCol' in updates — a temporal merge " +
            "cannot order a null timestamp"))).otherwise(col(tsCol)))

    // collapse each key's batch to its LAST update in total order —
    // intermediate same-batch states are not representable as SCD2
    // rows anyway (their valid_from would equal their valid_to).
    // A rank window on purpose: see ChangeApply.merge — row-payload
    // winner-per-key cannot hash-aggregate (max_by/struct plans as a
    // double-sorting SortAggregate; ObjectHashAggregate sort-falls-
    // back past 128 keys/partition), so one exchange + one sort of
    // the update batch is the minimal plan.
    val ordered = Window.partitionBy(col(key))
      .orderBy((col(tsCol) +: attrs.map(col)).map(_.desc): _*)
    val latest = updatesG
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") === 1).drop("__rn")

    val changed = attrs.map(a => !(col(s"o.$a") <=> col(s"u.$a")))
      .reduce(_ || _)
    val j = open.as("o").join(latest.as("u"),
      col(s"o.$key") === col(s"u.$key"), "full_outer")

    // late-arriving update for an interval that already started: a
    // no-op (see scaladoc) — the open row survives, nothing is closed
    val stale = col(s"o.$key").isNotNull &&
      col(s"u.$tsCol") <= col("o.valid_from")
    val applies = changed && !stale

    // ONE pass over the join: each joined row emits its 1-2 output
    // rows through a conditional array + explode. The previous form
    // unioned three FILTERS of `j` (keep-open / closed-now /
    // opened-now), and a union of filters re-EXECUTES the join once
    // per branch — 3× the merge's only shuffle — while quadrupling
    // the lineage of chained in-memory merges (r11 PlanAudit of
    // q_scd2_asof counted ~15 source scans for a 2-batch chain).
    val oRow = (validTo: Column) => struct(
      col(s"o.$key").as(key) +: attrs.map(a => col(s"o.$a").as(a)) :+
        col("o.valid_from").as("valid_from") :+ validTo.as("valid_to"): _*)
    val uRow = struct(
      col(s"u.$key").as(key) +: attrs.map(a => col(s"u.$a").as(a)) :+
        col(s"u.$tsCol").as("valid_from") :+
        lit(null).cast("timestamp").as("valid_to"): _*)
    val emitted =
      when(col(s"u.$key").isNull, array(oRow(col("o.valid_to"))))
        .when(col(s"o.$key").isNull, array(uRow))
        .when(!applies, array(oRow(col("o.valid_to"))))
        .otherwise(array(oRow(col(s"u.$tsCol")), uRow))

    val outCols =
      (key +: attrs) ++ Seq("valid_from", "valid_to")
    history.select(outCols.map(col): _*)
      .unionByName(j.select(explode(emitted).as("__r"))
        .select(col("__r.*")).select(outCols.map(col): _*))
  }

  /** The row of each key valid AT `at` (point-in-time dimension read):
    * valid_from <= at < valid_to (open row = unbounded end). */
  def asOf(versioned: DataFrame, at: Column): DataFrame =
    versioned.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || at < col("valid_to")))

  /** Persisted form mirroring [[ChangeApply.advance]]: fold an update
    * batch into the versioned dimension parquet at `path`
    * (bootstrapping an empty chain on first call) and swap-publish.
    * Returns the OPEN-row count after the merge (the dimension's live
    * cardinality). Batches must arrive in forward ts order across
    * calls (the [[merge]] contract); re-applying the most recent
    * batch is a no-op — an update that applied now matches its open
    * row's valid_from (stale guard) and one that was a no-op stays a
    * no-op — which is what makes the streaming sink's at-least-once
    * redelivery safe without an applied-batch marker. */
  def advance(spark: org.apache.spark.sql.SparkSession, path: String,
      updates: DataFrame, key: String, tsCol: String,
      attrs: Seq[String]): Long = {
    val dim = Swap.open(spark, path, "__merging")
    val empty = updates
      .select(col(key) +: attrs.map(col) :+ col(tsCol).as("valid_from") :+
        lit(null).cast("timestamp").as("valid_to"): _*)
      .limit(0)
    val base = dim.live.getOrElse(empty)
    dim.publish(merge(base, updates, key, tsCol, attrs))(
      _.filter(col("valid_to").isNull).count())
  }
}
