package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Swap-publish for directory-valued state (fold registries, model
  * stores, compacted layouts, skipping manifests): write the next
  * version to a tmp dir, then delete→rename over the live one. Every
  * persisted store goes through [[open]]; the protocol's steps are
  * private here, so no store can hand-roll (and drift from) them.
  * Lifecycle contract: REGISTRIES.md.
  *
  * The delete→rename gap is the pattern's one crash window — after it,
  * the data exists only under the tmp name. [[open]] closes it before
  * anything reads the live dir, promoting a complete (_SUCCESS-marked)
  * orphan tmp when the live dir is missing. Combined with
  * version-guarded merges (ChangeApply) or applied-batch markers
  * (foreachBatch sinks), a crash at any instant loses no state.
  * Readers can still race the gap on object stores — the documented
  * limit of table-format-free publishing (see `Layout.compact`).
  */
private[graft] object Swap {

  /** Open the store at `path`, whose publishes go through
    * `path + tmpName`: resolves the FileSystem and promotes an
    * interrupted publish before the caller reads anything. */
  def open(spark: SparkSession, path: String,
      tmpName: String = "__advancing"): Dir = {
    val dir = new Dir(spark, new Path(path), new Path(path + tmpName))
    recover(dir.fs, dir.path, dir.tmp)
    dir
  }

  /** One opened store: its recovered live state, the applied-batch
    * check, and the one publish step. */
  final class Dir private[Swap] (spark: SparkSession, val path: Path,
      private[Swap] val tmp: Path) {
    val fs: FileSystem =
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def exists: Boolean = fs.exists(path)

    /** The live state (a missing dir fails as Spark's PATH_NOT_FOUND). */
    def read(): DataFrame = spark.read.parquet(path.toString)

    /** The live state, if any has been published. */
    def live: Option[DataFrame] = if (exists) Some(read()) else None

    /** Does the live dir carry the format/params stamp `name`? */
    def has(name: String): Boolean = fs.exists(new Path(path, name))

    /** Has this (runTag, batchId) already been folded into the live
      * state? Applied-ness is MONOTONE per runTag: batch ids from a
      * checkpointed feed only move forward, so batchId ≤ the highest
      * marked id means applied — which is what lets [[publish]] carry
      * a single marker per tag instead of one per batch forever. */
    def applied(runTag: String, batchId: Long): Boolean =
      markers(fs, path).collect { case (_, (`runTag`, id)) => id }
        .maxOption.exists(batchId <= _)

    /** Mark (runTag, batchId) applied IN the live dir, pruning the
      * tag's superseded markers — for folds whose root is never
      * swapped (the IVF-PQ index folds write it last). */
    def markApplied(runTag: String, batchId: Long): Unit =
      carryMarkers(fs, path, path, Some((runTag, batchId)))

    /** Publish `next` as the live state: wipe tmp, write `next` there
      * (through `partitionBy` / `coalesce` when given), carry the
      * applied-batch markers plus `marker`, create the `stamps`, run
      * `count` over the written tmp, then delete→rename. Markers and
      * stamps land in tmp BEFORE the rename, so state and bookkeeping
      * commit together. `count` reads the tmp frame only if it uses
      * it (a read lists files and infers the schema — a Spark job);
      * returns its result, or -1 without one. */
    def publish(next: DataFrame, marker: Option[(String, Long)] = None,
        stamps: Seq[String] = Nil, partitionBy: Seq[String] = Nil,
        coalesce: Option[Int] = None)(
        count: (=> DataFrame) => Long = _ => -1L): Long = {
      fs.delete(tmp, true)
      coalesce.fold(next)(next.coalesce).write.mode("overwrite")
        .partitionBy(partitionBy: _*).parquet(tmp.toString)
      carryMarkers(fs, path, tmp, marker)
      stamps.foreach(m => fs.create(new Path(tmp, m), true).close())
      val n = count(spark.read.parquet(tmp.toString))
      fs.delete(path, true)
      require(fs.rename(tmp, path), s"swap publish failed for $path")
      n
    }
  }

  /** Promote an interrupted publish: live dir missing + complete tmp
    * present → rename tmp into place. */
  private def recover(fs: FileSystem, live: Path, tmp: Path): Unit =
    if (!fs.exists(live) && fs.exists(new Path(tmp, "_SUCCESS")))
      require(fs.rename(tmp, live), s"swap recovery failed for $live")

  // -- applied-batch markers: replay protection for NON-idempotent
  // -- folds driven by at-least-once feeds. A marker rides INSIDE the
  // -- swapped state dir (underscore files are invisible to parquet
  // -- readers), so the atomic rename publishes fold + marker together
  // -- and "folded" vs "marked" can never diverge.

  private def markerName(runTag: String, batchId: Long): String =
    s"_applied_${runTag}_$batchId"

  /** The markers in `dir` as (file, (runTag, batchId)). The tag may
    * itself contain underscores, so the batch id is everything after
    * the LAST one. */
  private def markers(fs: FileSystem,
      dir: Path): Seq[(Path, (String, Long))] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).iterator.map(_.getPath)
      .filter(_.getName.startsWith("_applied_"))
      .flatMap { p =>
        val body = p.getName.stripPrefix("_applied_")
        val cut = body.lastIndexOf('_')
        if (cut <= 0) None
        else body.drop(cut + 1).toLongOption.map(id => (p, (body.take(cut), id)))
      }.toSeq

  /** Carry markers from `live` into `tmp` and add the new one. Only
    * the HIGHEST batchId per runTag is carried: applied-ness is
    * monotone, and a checkpointed feed only ever replays its last
    * uncommitted batch, so lower markers are dead weight — without
    * pruning a long-running sink accumulates one empty file per
    * micro-batch and every fold pays an O(#batches) list+create.
    * Superseded markers already PRESENT in `tmp` are deleted for the
    * same reason: [[Dir.markApplied]] calls this with `tmp == live`
    * (that root is never swapped, so nothing else ever replaces its
    * marker set). For a freshly written tmp the extra list finds
    * nothing. */
  private def carryMarkers(fs: FileSystem, live: Path, tmp: Path,
      newMarker: Option[(String, Long)]): Unit = {
    val carried = markers(fs, live).map(_._2).groupMapReduce(_._1)(_._2)(math.max)
    val withNew = newMarker.fold(carried) { case (tag, id) =>
      carried.updated(tag, math.max(id, carried.getOrElse(tag, id)))
    }
    withNew.foreach { case (tag, id) =>
      fs.create(new Path(tmp, markerName(tag, id)), true).close()
    }
    markers(fs, tmp).foreach { case (p, (tag, id)) =>
      if (withNew.get(tag).exists(id < _)) fs.delete(p, false)
    }
  }
}
