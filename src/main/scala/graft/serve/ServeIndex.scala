package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The in-memory serving index of ONE published fact snapshot: what
  * [[StarServeHttp]] answers every dashboard read from, with a binary
  * search and a string join instead of a Spark job per request.
  *
  * Per `IndexCode` it holds the fact rows joined to `dim_stock_index`,
  * sorted by `DateKey`, each with
  *  - its epoch day (the search key),
  *  - the JSON Spark itself renders (`to_json(struct(...))`) for the
  *    `/series` projection and for the full `/latest` row, so a body is
  *    byte-identical to `toJSON` over the DataFrame accessor,
  *  - the `Close`/`GDPGrowthRate` doubles [[ChartRender.dualAxis]] draws;
  * plus the pre-rendered `/indexes` body and the fact's date bounds.
  *
  * Immutable once built: [[StarServe]] publishes a new one with a
  * single volatile reference swap, so a reader holding an index always
  * answers from one complete snapshot.
  */
private[graft] final class ServeIndex private (
    /** The `_LATEST` target this index was built from (None: the
      * static star fact). */
    val snapshot: Option[String],
    /** Fact rows held (every snapshot row, joined or not). */
    val rows: Int,
    val buildMs: Double,
    val builtAtNanos: Long,
    dims: ServeIndex.Dims,
    byCode: Map[String, Array[ServeIndex.Entry]],
    lo: java.sql.Date,
    hi: java.sql.Date) {
  import ServeIndex._

  /** The `/indexes` body: `dim_stock_index` as a JSON array. */
  def indexesJson: String = dims.indexesJson

  /** Min/max `DateKey` over the whole fact (nulls when it is empty, as
    * the `min`/`max` aggregate returns). */
  def bounds: (java.sql.Date, java.sql.Date) = (lo, hi)

  /** Rows of `code` with `start <= DateKey <= end`, at most `maxRows`
    * of them. Dates parse with Spark's own string-to-date cast rule. */
  private def slice(code: String, start: String, end: String,
      maxRows: Int): Iterator[Entry] = {
    val (s, e) = (parseDate(start), parseDate(end))
    val rows = byCode.getOrElse(code, Array.empty[Entry])
    val from = lowerBound(rows, s)
    val until = math.max(from, lowerBound(rows, e + 1L))
    if (until - from > maxRows)
      throw new StarServe.SliceTooLarge(
        s"slice exceeds $maxRows rows; narrow the date range")
    rows.iterator.slice(from, until)
  }

  /** The `/series` body: `chartSeries(code, start, end).toJSON`. */
  def seriesJson(code: String, start: String, end: String,
      maxRows: Int = Int.MaxValue): String =
    slice(code, start, end, maxRows).map(_.series).mkString("[", ",", "]")

  /** The `/latest` body: `latest(code, k).toJSON` (newest first, a null
    * `DateKey` last, as `DateKey DESC` sorts it). */
  def latestJson(code: String, k: Int): String =
    byCode.getOrElse(code, Array.empty[Entry]).reverseIterator.take(k)
      .map(_.latest).mkString("[", ",", "]")

  /** [[StarServe.chartSvg]]: the slice drawn by [[ChartRender.dualAxis]]
    * under the dimension's `IndexName`. */
  def chartSvg(code: String, start: String, end: String,
      maxRows: Int = Int.MaxValue): String =
    ChartRender.dualAxis(s"Close Price and GDP Growth - ${dims.nameFor(code)}",
      slice(code, start, end, maxRows).map(e => (e.day, e.close, e.gdp)).toSeq)
}

private[graft] object ServeIndex {
  /** The most fact rows an index holds. Spark's `SizeEstimator` puts
    * an index of the star fact (twelve columns; ServeIndexSpec's
    * fixture, which re-checks the arithmetic below) at 504 bytes of
    * driver heap per row: two JSON strings (about 60 and 250
    * characters), the row object and two boxed doubles. 400,000 rows
    * is then about 200 MB, inside a 256 MB budget with a fifth to spare
    * for values that render longer — twenty times the reference
    * dashboard's whole fact (3 tickers × 25 years).
    *
    * A build over a larger fact collects at most `MaxIndexRows + 1`
    * rows and fails with an error naming this bound. After a refresh,
    * the previous index keeps serving; a fact that never fitted answers
    * every HTTP read with that error as a 500 (before the index, such
    * a fact ran one Spark job per read). Serve it through a paged API. */
  val MaxIndexRows: Int = 400000

  /** One fact row under one `IndexCode`; `day` is the epoch day, with
    * a null `DateKey` as `Long.MinValue` (before every real day, so it
    * is never in a date slice and comes last in `/latest`). */
  private[serve] final case class Entry(day: Long, close: Option[Double],
      gdp: Option[Double], series: String, latest: String)

  /** `dim_stock_index` on the driver (KB-sized, static for the star's
    * lifetime): one collect per [[StarServe]], shared by its indexes. */
  final class Dims(val indexesJson: String,
      rows: Seq[(String, String, String)]) {
    /** IndexCodes per IndexKey, duplicates kept: exactly the pairs an
      * inner join on IndexKey makes. */
    val codesOfKey: Map[String, Seq[String]] =
      rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2) }
    def keyFor(code: String): Option[String] = rows.find(_._2 == code).map(_._1)
    def nameFor(code: String): String =
      rows.find(_._2 == code).map(_._3).getOrElse(code)
  }

  def dims(dimStockIndex: DataFrame): Dims = {
    val got = dimStockIndex.select(col("IndexKey"), col("IndexCode"),
      col("IndexName"), to_json(struct(dimStockIndex.columns.map(col).toSeq: _*)))
      .collect()
    new Dims(got.map(_.getString(3)).mkString("[", ",", "]"),
      got.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))
  }

  /** Spark's string-to-date cast rule (`CAST(s AS DATE)`), or
    * [[StarServe.InvalidDate]] where the ANSI cast would throw. */
  private def parseDate(s: String): Int =
    DateTimeUtils.stringToDate(UTF8String.fromString(s))
      .getOrElse(throw new StarServe.InvalidDate(s"not a date: $s"))

  /** First position whose day is >= `day`. */
  private def lowerBound(rows: Array[Entry], day: Long): Int = {
    var (a, b) = (0, rows.length)
    while (a < b) {
      val m = (a + b) >>> 1
      if (rows(m).day < day) a = m + 1 else b = m
    }
    a
  }

  /** Build the index of `fact` in one collect: the scan runs as one
    * task (`coalesce(1)`) and stops after `maxRows + 1` rows, so the
    * driver never holds more than the bound. The join to the dimension
    * runs on the driver over [[Dims]]. */
  def build(fact: DataFrame, snapshot: Option[String],
      dims: Dims, maxRows: Int = MaxIndexRows): ServeIndex = {
    val t0 = System.nanoTime()
    // the accessors' column order: `chartSeries` selects these three;
    // `latest` is a USING join on IndexKey, which puts it first
    val latestCols = "IndexKey" +: fact.columns.filterNot(_ == "IndexKey").toSeq
    val got = fact.coalesce(1).select(
        col("IndexKey"), unix_date(col("DateKey")),
        col("Close").cast("double"), col("GDPGrowthRate").cast("double"),
        to_json(struct(col("DateKey"), col("Close"), col("GDPGrowthRate"))),
        to_json(struct(latestCols.map(col): _*)))
      .limit(maxRows + 1).collect()
    if (got.length > maxRows)
      throw new IllegalStateException(
        s"fact ${snapshot.getOrElse("fact_table")} holds more than " +
          s"ServeIndex.MaxIndexRows = $maxRows rows, the serving index's " +
          "driver-heap bound; serve it through a paged API instead")
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val entries = got.iterator.map { r =>
      (Option(r.getString(0)), Entry(if (r.isNullAt(1)) Long.MinValue else r.getInt(1).toLong,
        opt(r, 2), opt(r, 3), r.getString(4), r.getString(5)))
    }.toSeq
    val byCode = entries
      .flatMap { case (k, e) => k.toSeq.flatMap(dims.codesOfKey.getOrElse(_, Nil)).map(_ -> e) }
      .groupBy(_._1)
      .map { case (c, es) => c -> es.map(_._2).sortBy(_.day).toArray }
    val days = entries.map(_._2.day).filter(_ != Long.MinValue)
    val (lo, hi) =
      if (days.isEmpty) (null, null)
      else (DateTimeUtils.toJavaDate(days.min.toInt), DateTimeUtils.toJavaDate(days.max.toInt))
    new ServeIndex(snapshot, got.length, (System.nanoTime() - t0) / 1e6,
      System.nanoTime(), dims, byCode, lo, hi)
  }
}
