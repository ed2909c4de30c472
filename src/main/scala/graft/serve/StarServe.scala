package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingPipeline

/** Serving path over the published star schema — SURVEY §3 E3.
  *
  * The reference dashboard (streamlit/app.py:90) loads the ENTIRE fact
  * table with `SELECT * … ORDER BY DateKey`, then filters client-side
  * in pandas (:106-110) — a full materialize + full sort per page view,
  * repeated for every user interaction. This module is the Spark-first
  * correction:
  *
  *  - star frames are loaded once and cached (`serve-layer` memory —
  *    the dims are KB-sized, the fact fits serving memory by
  *    construction of the serving tier; `release()` drops the pins);
  *  - every accessor FILTERS FIRST and sorts only the slice: the
  *    filter is part of the Catalyst plan, so it executes below the
  *    sort (ServeSpec gates the plan shape), and a top-k request plans
  *    as TakeOrderedAndProject, never a full sort;
  *  - dim lookups (`indexKeyFor`) collect a KB-sized dimension once —
  *    the reference does the same `dict(zip(...))` (:97-99);
  *  - the dashboard's reads (`chartSvg`, `factDateBounds`, and every
  *    [[StarServeHttp]] endpoint) answer from a [[ServeIndex]] of the
  *    recorded snapshot, built by one scan on the first such read and
  *    moved when `refresh()` sees the pointer move (by reading only
  *    the new delta layers when the upsert chain grew): a read is a
  *    binary search, not a Spark job. `fact`, `factSlice`,
  *    `chartSeries`, `latest` and the dim frames stay the composable
  *    DataFrame API the index is checked against.
  */
class StarServe(spark: SparkSession, starDir: String,
    factSnapshotDir: Option[String] = None) {

  // The fact source is either the static star parquet (batch publish)
  // or — snapshot mode — the snapshot the streaming upsert sink's
  // `_LATEST` pointer named when this serve layer last looked, closing
  // the reference's daily-batch → dashboard loop with the incremental
  // pipeline instead. That name is RECORDED on first use (of the fact
  // frame or of the index, whichever comes first) and moved only by
  // `refresh()`; the cached fact frame and the serving index both
  // follow it. Readers take the index through one volatile read and
  // never lock; builds, the recorded name and the fact cache pin are
  // guarded by `this`.
  private var recorded: Option[Option[String]] = None
  @volatile private var served: ServeIndex = null
  @volatile private var fullBuilds = 0L
  @volatile private var deltaApplies = 0L
  private var factCache: Option[DataFrame] = None

  private lazy val dims = ServeIndex.dims(dimStockIndex)

  /** The recorded snapshot name (None: the static star fact). */
  private def snapshot: Option[String] = synchronized {
    recorded.getOrElse {
      val p = factSnapshotDir.map(d =>
        StreamingPipeline.awaitLatestSnapshotName(spark, d))
      recorded = Some(p)
      p
    }
  }

  /** The fact frame of `snapshot` and the chain layers it folds. */
  private def factOf(snapshot: Option[String]): (DataFrame, Seq[String]) =
    factSnapshotDir match {
      case Some(d) => // snapshot mode always records one
        val c = StreamingPipeline.snapshotChain(spark, d, snapshot.get)
        (StreamingPipeline.readChain(spark, d, c), c.layers)
      case None =>
        (StreamingPipeline.readParquet(spark, s"$starDir/fact_table.parquet"),
          Seq("fact_table.parquet"))
    }

  /** Build the serving index of `snapshot`, the name the pointer gave
    * (never a second `_LATEST` lookup, which could name a newer one). */
  private def build(snapshot: Option[String]): ServeIndex = {
    val (fact, layers) = factOf(snapshot)
    val i = ServeIndex.build(fact, snapshot, layers, dims)
    fullBuilds += 1
    i
  }

  /** The index of snapshot `name` of `dir` made from `held` by
    * applying only the delta layers its chain adds to the one `held`
    * holds (one small job each). None — a full build is due — unless
    * the chain extends `held`'s and its deltas replace rows on the
    * index's own key, (IndexKey, DateKey). */
  private def extend(held: ServeIndex, dir: String, name: String): Option[ServeIndex] = {
    val c = StreamingPipeline.snapshotChain(spark, dir, name)
    val fresh = c.layers.drop(held.layers.size)
    if (fresh.isEmpty || !c.layers.startsWith(held.layers) ||
        c.keys.toSet != Set("IndexKey", "DateKey")) None
    else fresh.foldLeft(Option(held)) { (i, l) =>
        i.flatMap(_.withDelta(StreamingPipeline.readParquet(spark, s"$dir/$l"), l))
      }.map { i =>
        deltaApplies += fresh.size
        i
      }
  }

  /** The serving index of the recorded snapshot, built on first use. */
  private[graft] def index: ServeIndex = {
    val i = served
    if (i != null) i
    else synchronized {
      if (served == null) served = build(snapshot)
      served
    }
  }

  /** The index if one is built, and the builds so far: a metrics view
    * that never triggers a build. */
  private[graft] def indexState: StarServe.IndexState = {
    val i = Option(served)
    StarServe.IndexState(i, fullBuilds, deltaApplies, i.flatMap(_.deltaRows))
  }

  /** Cached fact frame of the recorded snapshot (reference reads the
    * same objects, app.py:75-95). */
  def fact: DataFrame = synchronized {
    factCache.getOrElse {
      val f = factOf(snapshot)._1.cache()
      factCache = Some(f)
      f
    }
  }

  /** Snapshot mode: re-read the `_LATEST` pointer; when it names a new
    * snapshot, make that snapshot's serving index, publish it with one
    * reference swap, record the new name, and drop the fact cache pin
    * so the next `fact` call caches the new snapshot. When the new
    * chain extends the served one by deltas, only those deltas are
    * read and applied ([[ServeIndex.withDelta]]: one small job each);
    * otherwise (first use, after a fold, an unrelated pointer) the
    * whole chain is scanned (one job for a lone base; the schema comes
    * from a footer read on the driver). Returns true when a swap
    * happened. A build that throws
    * changes nothing — the previous index keeps serving and the
    * recorded name stays, so the next refresh() retries — and the
    * error propagates. An absent pointer (a writer's delete→rename
    * flip window) is not a move. Static mode (no snapshot dir) always
    * returns false — the star parquet is immutable by the publish
    * contract. */
  def refresh(): Boolean = synchronized {
    factSnapshotDir match {
      case None => false
      case Some(d) =>
        val current = snapshot
        val p = StreamingPipeline.latestSnapshotName(spark, d)
        if (p.isEmpty || p == current) false
        else {
          served = Option(served).flatMap(extend(_, d, p.get)).getOrElse(build(p))
          recorded = Some(p)
          factCache.foreach(_.unpersist())
          factCache = None
          true
        }
    }
  }

  /** Cached star dimension frames, read on first use. */
  lazy val dimStockIndex: DataFrame = dim("dim_stock_index")
  lazy val dimDate: DataFrame = dim("dim_date")
  lazy val dimCountry: DataFrame = dim("dim_country")

  // the dims read so far: release() unpersists only these, so it never
  // reads (and caches) a dimension just to drop it
  private var readDims = List.empty[DataFrame]
  private def dim(name: String): DataFrame = synchronized {
    val f = spark.read.parquet(s"$starDir/$name.parquet").cache()
    readDims ::= f
    f
  }

  /** IndexCode → IndexKey, the sidebar mapping (app.py:97-99), from
    * the dimension collected once. */
  def indexKeyFor(indexCode: String): Option[String] = dims.keyFor(indexCode)

  /** Date bounds for the range picker (app.py:101-103), kept by the
    * serving index — no scan per call. */
  def factDateBounds(): (java.sql.Date, java.sql.Date) = index.bounds

  /** The Charts slice (app.py:106-110), filter-before-sort: index +
    * date-range predicates are Catalyst filters below the sort. */
  def factSlice(indexCode: String, start: String, end: String): DataFrame =
    fact
      .join(broadcast(dimStockIndex.filter(col("IndexCode") === indexCode)
        .select(col("IndexKey"))), Seq("IndexKey"))
      .filter(col("DateKey") >= lit(start).cast("date") &&
        col("DateKey") <= lit(end).cast("date"))
      .orderBy(col("DateKey"))

  /** The chart's two series (app.py:118-127). */
  def chartSeries(indexCode: String, start: String, end: String): DataFrame =
    factSlice(indexCode, start, end)
      .select(col("DateKey"), col("Close"), col("GDPGrowthRate"))

  /** The rendered dual-axis chart (app.py:114-130): the chartSeries
    * slice drawn as deterministic SVG — byte-identical to
    * `ChartRender.dualAxis` over `chartSeries(...).collect()` — but read
    * from the serving index, so no Spark job runs. An empty slice
    * renders the reference's warning banner (app.py:131).
    *
    * `maxRows` enforces the serving-tier size contract: an over-cap
    * slice throws [[StarServe.SliceTooLarge]] before rendering (the
    * HTTP facade maps this to 413). A `start`/`end` that Spark's
    * string-to-date cast rejects throws [[StarServe.InvalidDate]]. */
  def chartSvg(indexCode: String, start: String, end: String,
      maxRows: Int = Int.MaxValue): String =
    index.chartSvg(indexCode, start, end, maxRows)

  /** Latest-k rows for a table widget: top-k plan
    * (TakeOrderedAndProject), never a full sort. */
  def latest(indexCode: String, k: Int): DataFrame =
    fact
      .join(broadcast(dimStockIndex.filter(col("IndexCode") === indexCode)
        .select(col("IndexKey"))), Seq("IndexKey"))
      .orderBy(col("DateKey").desc)
      .limit(k)

  /** Release the serve-layer cache pins and the serving index (a later
    * use records the snapshot `_LATEST` names then). */
  def release(): Unit = synchronized {
    factCache.foreach(_.unpersist())
    factCache = None
    served = null
    recorded = None
    readDims.foreach(_.unpersist())
    readDims = Nil
  }
}

object StarServe {
  /** Serve dims from the published star, and the fact from a streaming
    * upsert snapshot directory (`StreamingPipeline.upsertSink` output):
    * the serving tier tracks the incremental pipeline via `refresh()`
    * instead of waiting for the next full star publish. */
  def fromStreamingSnapshots(spark: SparkSession, starDir: String,
      snapshotDir: String): StarServe =
    new StarServe(spark, starDir, Some(snapshotDir))

  /** What `/metrics` reports of the serving index: the index if one is
    * built, full builds and delta applies so far, and the rows of the
    * delta the index applied last (None: it is a full build). */
  private[graft] final case class IndexState(index: Option[ServeIndex],
      fullBuilds: Long, deltaApplies: Long, lastDeltaRows: Option[Int]) {
    def builds: Long = fullBuilds + deltaApplies
  }

  /** A requested slice exceeds the serving-tier row cap — thrown
    * before the oversized slice is materialized; the HTTP facade maps
    * it to 413 Content Too Large. */
  final class SliceTooLarge(msg: String) extends RuntimeException(msg)

  /** A requested `start`/`end` is not a date by Spark's cast rule — the
    * caller's input, so the HTTP facade maps it to 400. */
  final class InvalidDate(msg: String) extends IllegalArgumentException(msg)
}
