package graft.etl

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max data-skipping index — the reader-side payoff of
  * `Layout.zorderWrite`. Parquet row-group stats already prune WITHIN
  * a file once the scan opens it; at 100 TB the cost that remains is
  * opening and footer-reading hundreds of thousands of files. A tiny
  * per-file (min,max) manifest lets the planner drop whole files
  * before any scan task launches — the table-format-free core of what
  * Delta/Iceberg file statistics do (SNIPPETS.md §delta-stats is the
  * public pattern).
  *
  * Honesty contract: skipping is an IO optimization ONLY. `prunedScan`
  * re-applies the exact range predicate on top of the pruned file set,
  * and any live file the manifest does not cover is always read — so a
  * stale manifest (files appended since the last `writeManifest`) can
  * cost speed, never rows. `SkippingSpec` asserts both properties.
  *
  * Scale shape: the manifest build is one distributed partial+final
  * aggregation keyed by `input_file_name()` — output is O(#files)
  * rows, ~100 bytes each (at 100 TB / 128 MB files ≈ 800 k rows,
  * a few tens of MB — the same order as the file index Spark's own
  * scan planning holds on the driver). File selection filters the
  * manifest IN Spark and collects only surviving names; run it
  * per-partition-directory to bound even that.
  */
object Skipping {

  /** Inclusive range predicate on one column: lo ≤ col ≤ hi. Bounds
    * are compared in double space (the manifest stores stats as
    * double); `None` leaves that side open. */
  final case class ColRange(col: String, lo: Option[Double], hi: Option[Double]) {
    /** The exact row-level predicate re-applied after pruning. */
    def exact: Column = {
      val c = org.apache.spark.sql.functions.col(col).cast("double")
      (lo, hi) match {
        case (Some(l), Some(h)) => c >= l && c <= h
        case (Some(l), None)    => c >= l
        case (None, Some(h))    => c <= h
        case (None, None)       => lit(true)
      }
    }
    /** File-survives predicate over the manifest's min_/max_ columns.
      * Null stats (a file whose column is entirely null) keep the
      * file — conservative, and null rows are then dropped by the
      * exact predicate. */
    def overlaps: Column = {
      val mn = org.apache.spark.sql.functions.col(s"min_$col")
      val mx = org.apache.spark.sql.functions.col(s"max_$col")
      val lower = hi.map(h => mn <= h).getOrElse(lit(true))
      val upper = lo.map(l => mx >= l).getOrElse(lit(true))
      (lower && upper) || mn.isNull || mx.isNull
    }
  }

  /** Files skipped vs read, for assertions and operator logs.
    * `readBytes` is the on-disk size of the chosen file set — the
    * direct IO-saved number an operator log should carry (at 100 TB
    * "read 3 of 800 k files" undersells "read 400 MB of 100 TB"). */
  final case class SkipStats(liveFiles: Int, readFiles: Int,
      uncovered: Int, readBytes: Long = 0L) {
    def skipped: Int = liveFiles - readFiles
  }

  /** Sibling path convention — the data directory stays pure parquet. */
  def manifestPath(dataPath: String): String =
    dataPath.stripSuffix("/") + "_skipidx"

  /** Stat-encoding version stamp (same zero-byte-marker pattern as
    * `Dedup.bandRegistryMarker`): manifests persist [[statCol]]'s
    * double encoding, so a manifest built under a DIFFERENT encoding
    * (v1 encoded TimestampNTZ as session-zone epoch micros; v2 is the
    * zone-free as-if-UTC wall clock) would be probed in a different
    * epoch domain — min/max shifted by the zone offset — and could
    * silently skip files containing matching rows, violating the "can
    * cost speed, never rows" contract. Every writer stamps the
    * manifest dir; both readers treat a missing stamp as "no usable
    * manifest": [[refreshManifest]] forces a full rebuild and
    * [[prunedScan]] reads every live file (prune disabled, exact
    * predicate still applied — costs speed, never rows). */
  private[graft] val encodingStamp = "_GRAFT_SKIPIDX_ENC_V2"

  /** The manifest beside `dataPath`, opened (recovered) for a read
    * or a publish. */
  private def openManifest(spark: SparkSession, dataPath: String): Swap.Dir =
    Swap.open(spark, manifestPath(dataPath), "__refreshing")

  /** Publish a manifest frame: one output file (O(#files) rows), the
    * stamp inside tmp so the rename publishes data + version together. */
  private def publishManifest(man: Swap.Dir, next: DataFrame): Unit =
    man.publish(next, stamps = Seq(encodingStamp), coalesce = Some(1))()

  /** Order-preserving double encoding of an indexable column:
    * numerics cast directly; DATE becomes epoch DAYS and TIMESTAMP
    * epoch MICROS (ANSI — the Spark 4 default — rejects direct
    * date/timestamp→numeric casts, so the old blanket double cast
    * threw on exactly the most natural skipping column). ColRange
    * bounds for such columns are therefore epoch days/micros. */
  private def statCol(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        // ZONE-FREE encoding: NTZ is a wall clock with no zone, and a
        // cast to TIMESTAMP interprets it in the SESSION zone — a
        // manifest built under one session timezone and probed under
        // another would compare in different epoch domains and could
        // silently skip files that match. Date and time-of-day
        // extraction on NTZ are both zone-free, so encode the wall
        // clock as-if-UTC micros: day * 86400e6 + time-of-day micros
        // (order-preserving for pre-epoch values too — time-of-day is
        // always in [0, 86400e6)). Exact in double to ~year 2255,
        // the same 2^53-micros bound as the TIMESTAMP path.
        unix_date(col(c).cast("date")).cast("double") * lit(86400000000.0) +
          (hour(col(c)) * 3600 + minute(col(c)) * 60).cast("double") * lit(1000000.0) +
          date_part(lit("SECOND"), col(c)).cast("double") * lit(1000000.0)
      case _ => col(c).cast("double")
    }
  }

  /** The one per-file stats aggregation both the full build and the
    * incremental refresh run — a single definition so the manifest
    * schema cannot drift between the two paths. */
  private def fileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(statCol(df, c)).as(s"min_$c"),
      max(statCol(df, c)).as(s"max_$c")))
    df.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy("file")
      .agg(count(lit(1)).as("rows"), aggs: _*)
  }

  /** Per-file stats for `cols` in ONE distributed agg job:
    * `file, rows, min_<c>, max_<c>...`. Stats are encoded as doubles
    * so the manifest schema is column-type-agnostic — see [[statCol]]
    * for the date/timestamp encoding. */
  def buildManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "index at least one column")
    fileStats(spark.read.parquet(dataPath), cols)
  }

  /** Build the manifest and swap-publish it beside the data; returns
    * its path. A rebuild never removes the live manifest under a
    * concurrent [[prunedScan]] (only the rename gap, which opening
    * recovers). */
  def writeManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): String = {
    publishManifest(openManifest(spark, dataPath),
      buildManifest(spark, dataPath, cols))
    manifestPath(dataPath)
  }

  /** Incremental refresh: stat ONLY files the manifest doesn't cover
    * and drop entries for deleted files — O(|new files|) scan instead
    * of a full rebuild after every append (at 800 k files the full
    * rebuild is itself a 100 TB scan). Falls back to a full build when
    * no manifest exists. Returns (statted, dropped). */
  def refreshManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): (Int, Int) = {
    // opening promotes an interrupted publish BEFORE the existence
    // probe — a crash in the delete->rename gap otherwise reads as "no
    // manifest" and triggers the full rebuild this incremental path
    // exists to avoid (at the documented scale, a full corpus re-scan)
    val man = openManifest(spark, dataPath)
    // a manifest without the current encoding stamp was built under a
    // different stat encoding — its min/max are not comparable, so the
    // incremental path must not union against it: full rebuild
    if (!man.has(encodingStamp)) {
      val n = liveParts(spark, dataPath).size
      publishManifest(man, buildManifest(spark, dataPath, cols))
      return (n, 0)
    }
    val live = liveParts(spark, dataPath)
    val liveKeys = live.map(p => key(p.toString)).toSet
    val old = man.read()
    val oldFiles = old.select("file").collect().map(_.getString(0))
    val oldKeys = oldFiles.map(key).toSet
    val missing = live.filterNot(p => oldKeys(key(p.toString)))
    // survivor set resolved driver-side (the file list is already
    // collected for oldKeys), so the prune predicate is a plain isin —
    // codegen-visible, no UDF in the plan
    val keptFiles = oldFiles.filter(f => liveKeys(key(f)))
    val keptOld = old.filter(col("file").isin(keptFiles.toSeq: _*))
    val next =
      if (missing.isEmpty) keptOld
      else keptOld.unionByName(fileStats(
        spark.read.option("basePath", dataPath)
          .parquet(missing.map(_.toString): _*), cols))
    publishManifest(man, next)
    (missing.size, (oldKeys -- liveKeys).size)
  }

  /** Scheme-free path key so manifest strings (`input_file_name`,
    * e.g. `file:///x/y`) and listing paths (`file:/x/y`) compare. */
  private def key(p: String): String = new Path(p).toUri.getPath

  /** Visible for tests: the scheme-free compare key. */
  private[graft] def manifestKeyForTest(p: String): String = key(p)

  private def liveParts(spark: SparkSession, dataPath: String): Seq[Path] =
    livePartsWithLen(spark, dataPath).map(_._1)

  private def livePartsWithLen(spark: SparkSession,
      dataPath: String): Seq[(Path, Long)] = {
    val fs = FileSystem.get(new URI(dataPath),
      spark.sparkContext.hadoopConfiguration)
    // recursive: a partitionBy layout keeps its part files in
    // key=value subdirectories
    val it = fs.listFiles(new Path(dataPath), true)
    val buf = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.startsWith("part-"))
        buf += ((s.getPath, s.getLen))
    }
    buf.result()
  }

  /** Read `dataPath` with files pruned by the manifest under the
    * conjunction of `preds`, then the exact predicates re-applied.
    * Files missing from the manifest (appended after the last
    * `writeManifest`) are always read; manifest entries for deleted
    * files are ignored. */
  def prunedScan(spark: SparkSession, dataPath: String,
      preds: Seq[ColRange]): (DataFrame, SkipStats) = {
    require(preds.nonEmpty, "prunedScan needs at least one range")
    val liveLen = livePartsWithLen(spark, dataPath)
    val live = liveLen.map(_._1)
    val lenByKey = liveLen.map { case (p, l) => key(p.toString) -> l }.toMap
    val liveByKey = live.map(p => key(p.toString) -> p).toMap
    // same crash-window recovery as refreshManifest: a complete
    // orphaned tmp must serve reads, not FileNotFound
    val man = openManifest(spark, dataPath)
    // no current-version encoding stamp ⇒ the manifest's stats live in
    // a different (or unknown) double domain — pruning against them
    // could drop matching rows. Disable pruning: every live file is
    // "uncovered" and read, the exact predicate still applies.
    val usable = man.has(encodingStamp)
    val (covered, surviving) =
      if (!usable) (Set.empty[String], Set.empty[String])
      else {
        // ONE manifest scan yields both sets: (file, survives) pairs —
        // at the documented 800 k-file scale the manifest is read once
        // per probe, not twice (and locally it's one fewer driver job
        // per prunedScan call)
        val rows = man.read()
          .select(col("file"),
            preds.map(_.overlaps).reduce(_ && _).as("survives"))
          .collect()
        (rows.map(r => key(r.getString(0))).toSet,
          rows.filter(_.getBoolean(1)).map(r => key(r.getString(0))).toSet)
      }
    val uncovered = live.filterNot(p => covered(key(p.toString)))
    val chosen = liveByKey.collect { case (k, p) if surviving(k) => p }.toSeq ++ uncovered

    val df =
      if (chosen.isEmpty)
        // schema from the full layout, zero rows — no file task runs
        spark.read.parquet(dataPath).filter(lit(false))
      // basePath keeps partition columns resolvable when reading leaf
      // files out of a partitionBy layout
      else spark.read.option("basePath", dataPath)
        .parquet(chosen.map(_.toString): _*)
    // exact re-filter through the SAME type-aware encoding as the
    // manifest stats (ColRange.exact's blanket double cast would
    // throw under ANSI on date/timestamp columns)
    val exact = preds.map(r => exactFor(df, r)).reduce(_ && _)
    val readBytes = chosen.map(p => lenByKey.getOrElse(key(p.toString), 0L)).sum
    (df.filter(exact),
      SkipStats(live.size, chosen.size, uncovered.size, readBytes))
  }

  /** [[ColRange.exact]] with the column routed through [[statCol]]'s
    * order-preserving encoding, so date/timestamp predicates compare
    * in the same epoch-days/micros domain the manifest stats use. */
  private def exactFor(df: DataFrame, r: ColRange): Column = {
    val c = statCol(df, r.col)
    (r.lo, r.hi) match {
      case (Some(l), Some(h)) => c >= l && c <= h
      case (Some(l), None)    => c >= l
      case (None, Some(h))    => c <= h
      case (None, None)       => lit(true)
    }
  }
}
