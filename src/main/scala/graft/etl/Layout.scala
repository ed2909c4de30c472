package graft.etl

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers: the techniques that delete shuffles and
  * scans at 100 TB rather than merely speeding them up.
  *
  *  - **Bucketing**: write both sides of a recurring equi-join
  *    pre-hash-partitioned on the join key (`bucketBy`). Joins on the
  *    bucket key then plan WITHOUT an Exchange on either side — the
  *    shuffle happened once at write time and is amortized over every
  *    subsequent join (the fact⋈orders shape of the reference's star
  *    schema, done right at scale).
  *  - **Partitioned layout**: write with `partitionBy(date-derived
  *    column)` so the reference's filename-date watermark (SURVEY
  *    §2.1 S7) becomes partition pruning — a date filter scans only
  *    matching directories (`PartitionFilters` in the plan), the
  *    engine-native form of the incremental-load predicate.
  *  - **Compaction**: an incremental pipeline (the reference lands one
  *    object per day; the streaming upsert writes one snapshot per
  *    batch) accretes small files, and at scale the scan cost becomes
  *    listing + task-launch overhead, not bytes. `compact` rewrites a
  *    directory to size-targeted files, swap-published.
  *  - **Z-order clustering**: sort by an interleaved-bit key over the
  *    range-filtered columns before writing, so parquet row-group
  *    min/max stats stay tight on EVERY one of them — a selective
  *    filter on any prunes row groups the linear sort order would
  *    scatter across the whole file.
  *
  * LayoutSpec asserts the plan/IO effects of each (no Exchange under
  * the bucketed join; PartitionFilters on the pruned scan; file-count
  * and byte-identity after compaction; fewer scan-surfaced rows from
  * the z-ordered layout under a 2-D selective filter).
  */
object Layout {

  /** Write `df` as a bucketed, sorted table on `key` (managed table —
    * bucketing metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Join two same-bucketed tables on their bucket key — plans with
    * zero Exchange when bucket counts match. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Write a date-partitioned layout: `partitionCol` must be a
    * low-cardinality derived column (e.g. `to_date(ts)`). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write
      .partitionBy(partitionCol)
      .mode("overwrite")
      .parquet(path)

  /** Rewrite the parquet directory at `path` into
    * ceil(bytes/targetFileBytes) files and swap the result in.
    * Returns (filesBefore, filesAfter); a no-op (and no rewrite job)
    * when the directory already meets the target.
    *
    * The swap is write-to-temp → delete → rename: on HDFS-like stores
    * the rename is atomic, on object stores the compacted data is
    * fully durable before the old files go — a reader can race the
    * delete/rename gap, which is the documented limit of
    * table-format-free compaction (a real lakehouse does this swap
    * under a metadata commit; the REWRITE itself is identical).
    *
    * Scale shape: one job, one round-robin exchange of exactly the
    * bytes being compacted; driver work is a file listing. Run it
    * per-partition (see `compactPartitioned`) so the unit of rewrite
    * stays bounded no matter how large the table grows. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val layout = Swap.open(spark, path, "__compacting")
    def liveParts = layout.fs.listStatus(layout.path).filter(s => s.isFile &&
      s.getPath.getName.startsWith("part-"))
    val parts = liveParts
    val total = parts.map(_.getLen).sum
    val want = math.max(1L, (total + targetFileBytes - 1) / targetFileBytes).toInt
    if (want >= parts.length) return (parts.length, parts.length)

    // repartition (round-robin), not coalesce: coalesce would also
    // narrow the PARALLELISM of the read+decode work to `want` tasks
    layout.publish(layout.read().repartition(want))()
    (parts.length, liveParts.length)
  }

  /** Compact every LEAF partition directory of a `partitionBy` layout
    * independently — bounded rewrite units, and untouched partitions
    * keep their files (incremental compaction: in practice only the
    * partitions the last loads touched fall under the target).
    * Descends through nested `k=v` levels, so multi-column
    * partitionBy layouts (a=.../b=.../part-*) compact their true
    * leaves — compacting only the FIRST level would find zero part
    * files there and silently no-op. Map keys are root-relative leaf
    * paths ("a=1/b=2"). */
  def compactPartitioned(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fs = FileSystem.get(new URI(root), spark.sparkContext.hadoopConfiguration)
    // qualify FIRST: listStatus returns fully-qualified absolute
    // paths, so a relative `root` would never prefix-match them and
    // the map keys would silently come back absolute instead of
    // root-relative ("a=1/b=2")
    val rootPath = fs.makeQualified(new Path(root))
    def leaves(p: Path): Seq[Path] = {
      val subs = fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) Seq(p) else subs.toSeq.flatMap(s => leaves(s.getPath))
    }
    val rootUri = rootPath.toUri.getPath.stripSuffix("/")
    leaves(rootPath).filter(_ != rootPath).map { p =>
      val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      rel -> compact(spark, p.toString, targetFileBytes)
    }.toMap
  }

  /** Parquet writer options enabling a split-block bloom filter on
    * each named column, sized for its expected per-row-group distinct
    * count. The gap these close: row-group min/max stats (and the
    * z-order clustering above) only prune RANGE-correlated columns — a
    * point lookup on a high-cardinality key the layout is NOT sorted
    * by (a document id in a time-partitioned corpus, a user id in an
    * event log) finds every row group's [min,max] spanning the probe
    * and reads the whole table. A bloom filter answers "definitely not
    * in this row group" for equality predicates regardless of layout,
    * so the scan skips all but the (few) groups that can hold the key.
    * Spark's reader applies them through the parquet row-group filter
    * whenever `spark.sql.parquet.filterPushdown` is on (the default).
    *
    * `ndv` sizes each row group's filter (bytes ≈ 1.2 × ndv, i.e.
    * ~9.6 bits per distinct value at the default 1% false-positive
    * rate): estimate DISTINCT KEYS PER ROW
    * GROUP, not per table — oversizing wastes footer bytes on every
    * group, undersizing inflates false positives, and a false positive
    * only costs a read (never wrong rows — the exact predicate still
    * runs above the scan). */
  def bloomOptions(ndvByCol: Map[String, Long]): Map[String, String] =
    ndvByCol.flatMap { case (c, ndv) =>
      require(ndv > 0, s"bloom ndv for $c must be positive")
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }

  /** Write `df` with bloom filters on the point-lookup columns (plus
    * any extra writer `options`, e.g. block sizing). Combine with
    * `partitionBy`/z-order freely — bloom filters are per-column,
    * per-row-group metadata and orthogonal to row order. */
  def writeBloom(df: DataFrame, path: String, ndvByCol: Map[String, Long],
      options: Map[String, String] = Map.empty): Unit = {
    // Parquet matches the '#<col>' option suffix case-SENSITIVELY
    // against the written schema; a typo'd name silently writes no
    // filter and the point-lookup pruning is lost with no error.
    // Dotted paths are valid parquet option keys for nested fields
    // (e.g. "meta.user_id"), so resolve each segment against the
    // struct schema rather than top-level column names only.
    def resolves(path: String): Boolean = {
      import org.apache.spark.sql.types.{StructType, DataType}
      def walk(dt: DataType, segs: List[String]): Boolean = (dt, segs) match {
        case (_, Nil) => true
        case (st: StructType, s :: rest) =>
          st.fields.find(_.name == s).exists(f => walk(f.dataType, rest))
        case _ => false
      }
      walk(df.schema, path.split('.').toList)
    }
    val missing = ndvByCol.keySet.filterNot(resolves)
    require(missing.isEmpty,
      s"writeBloom: columns ${missing.mkString(", ")} not in schema " +
        s"[${df.columns.mkString(", ")}] (match is case-sensitive; " +
        "dotted paths resolve nested struct fields)")
    df.write.mode("overwrite")
      .options(bloomOptions(ndvByCol) ++ options)
      .parquet(path)
  }

  /** N-column Morton (Z-order) key: each column linearly bucketed
    * into `bits` bits by its (lo, hi) range, bits interleaved
    * round-robin — bit j of column i lands at position j·n + i, so
    * every column contributes equally at every scale of the curve.
    * The interleave is `bits` shift-or terms per column — all
    * codegen'd integer expressions, no UDF. Linear bucketing is
    * order-preserving and cheap; for heavily skewed columns substitute
    * quantile boundaries for the min/max scale (same interleave).
    * n·bits must fit a signed long (≤ 63). More columns on the same
    * 63-bit budget means fewer bits each (n=3 → ≤21 bits/col):
    * per-column pruning granularity falls as n grows — the standard
    * Z-order dilution, which is why clustering beyond 3-4 columns
    * stops paying.
    *
    * `bounds` carries each column's (lo, hi) — the one tiny aggregate
    * the caller computes once (the "model", like the IVF centroids);
    * constant-folded into the row expression. */
  def zvalue(cols: Seq[Column], bounds: Seq[(Double, Double)],
      bits: Int = 20): Column = {
    require(cols.nonEmpty && cols.length == bounds.length,
      s"${cols.length} columns vs ${bounds.length} bounds")
    val n = cols.length
    require(bits >= 1 && n * bits <= 63,
      s"n*bits = ${n * bits} exceeds the 63-bit key budget")
    val scaleMax = (1L << bits) - 1
    def bucket(c: Column, lo: Double, hi: Double): Column =
      if (hi == lo) lit(0L)
      else {
        // clamp in DOUBLE space and neutralize NaN BEFORE the long
        // cast: under ANSI (the Spark 4 default) casting NaN or an
        // out-of-range double throws and fails the whole write — and
        // clamping AFTER the cast can never see those values. NaN
        // data (or NaN bounds from a max() over NaN-bearing data)
        // buckets to 0 deterministically.
        val scaled = (c.cast("double") - lit(lo)) / lit(hi - lo) * lit(scaleMax.toDouble)
        least(lit(scaleMax.toDouble),
          greatest(lit(0.0), nanvl(scaled, lit(0.0)))).cast("long")
      }
    cols.zip(bounds).zipWithIndex.map { case ((c, (lo, hi)), i) =>
      val b = bucket(c, lo, hi)
      (0 until bits).map { j =>
        // bit j of this column → key position j*n + i
        shiftleft(shiftrightunsigned(b, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered by the Z-order of `columns`: bounds from one
    * min/max aggregate, one range exchange on the z-key (the same
    * exchange a plain sorted write pays), then parquet whose row-group
    * min/max stats are tight on EVERY column. Readers filtering a
    * range of any of them skip row groups via the pushed predicate —
    * multi-dimensional pruning from a 1-D sort, the standard lakehouse
    * clustering trade. */
  def zorderWrite(df: DataFrame, path: String, columns: Seq[String],
      bits: Int = 20, options: Map[String, String] = Map.empty): Unit = {
    val aggs = columns.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val bounds = columns.indices.map(i =>
      (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    df.sort(zvalue(columns.map(col), bounds, bits))
      .write.mode("overwrite").options(options).parquet(path)
  }
}
