package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  * answers from one complete snapshot. A snapshot that extends the
  * held one by delta layers (`StreamingPipeline.upsertSink`'s chain)
  * becomes a new index through [[withDelta]], which reads only the
  * delta and copies only the arrays of the codes it touches.
  */
private[graft] final class ServeIndex private (
    /** The `_LATEST` target this index was built from (None: the
      * static star fact). */
    val snapshot: Option[String],
    /** The layers of the snapshot's chain this index holds, base first
      * (one: a lone base, or the static star fact). */
    val layers: Seq[String],
    /** Fact rows held (every snapshot row, joined or not). */
    val rows: Int,
    val buildMs: Double,
    val builtAtNanos: Long,
    /** Rows of the delta this index applied to the previous one (None:
      * a full build). */
    val deltaRows: Option[Int],
    dims: ServeIndex.Dims,
    schema: StructType,
    byCode: Map[String, Array[ServeIndex.Entry]],
    /** Rows per (IndexKey, epoch day) whose IndexKey is not in the
      * dimension: the rows no code holds that a delta can replace. */
    unjoined: Map[(String, Long), Int],
    /** Min/max epoch day over every row (lo > hi: no dated row). */
    lo: Long,
    hi: Long) {
  import ServeIndex._

  /** The `/indexes` body: `dim_stock_index` as a JSON array. */
  def indexesJson: String = dims.indexesJson

  /** Min/max `DateKey` over the whole fact (nulls when it is empty, as
    * the `min`/`max` aggregate returns). */
  def bounds: (java.sql.Date, java.sql.Date) =
    if (lo > hi) (null, null)
    else (DateTimeUtils.toJavaDate(lo.toInt), DateTimeUtils.toJavaDate(hi.toInt))

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

  /** This index with the delta layer `layer` (read as `delta`) applied
    * the way the upsert merge applies it to the fact: a held row whose
    * `IndexKey` and `DateKey` (both non-null) some delta row holds is
    * dropped and every delta row is added, so the result equals a full
    * build of the longer chain (rows of one day are ordered by their
    * rendered `/latest` row, not by the order a read returns them). One
    * Spark job (the delta's collect); only the entry arrays of the
    * codes the delta touches are copied. None when the delta's columns
    * differ from the fact's: only a full build renders that union. */
  def withDelta(delta: DataFrame, layer: String,
      maxRows: Int = MaxIndexRows): Option[ServeIndex] = {
    def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    if (cols(delta.schema) != cols(schema)) None
    else Some(plus(Some(layer), layers :+ layer, delta, isDelta = true, maxRows))
  }

  /** This index plus the rows of `frame` (collected at most
    * `maxRows + 1` of them in one job), replacing held rows by key. */
  private def plus(snapshot: Option[String], layers: Seq[String],
      frame: DataFrame, isDelta: Boolean, maxRows: Int): ServeIndex = {
    val t0 = System.nanoTime()
    val got = collectEntries(frame, schema.fieldNames.toSeq, maxRows)
    // an empty index (a full build) holds nothing to replace
    val replaced =
      if (rows == 0) Set.empty[(String, Long)]
      else got.iterator.filter(e => e.key != null && e.day != Long.MinValue)
        .map(e => (e.key, e.day)).toSet
    // a replaced joined row sits in the array of each code its key
    // pairs with, once per pairing: count it in the first code's
    val removed = replaced.iterator.map { case kd @ (k, d) =>
      dims.codesOfKey.get(k) match {
        case Some(codes) =>
          val es = byCode.getOrElse(codes.head, Array.empty[Entry])
          (lowerBound(es, d) until lowerBound(es, d + 1)).count(es(_).key == k) /
            codes.count(_ == codes.head)
        case None => unjoined.getOrElse(kd, 0)
      }
    }.sum
    val total = rows.toLong - removed + got.length
    if (total > maxRows)
      throw new IllegalStateException(
        s"fact ${snapshot.getOrElse("fact_table")} holds more than " +
          s"ServeIndex.MaxIndexRows = $maxRows rows, the serving index's " +
          "driver-heap bound; serve it through a paged API instead")
    val added = got.toSeq
      .flatMap(e => Option(e.key).toSeq.flatMap(dims.codesOfKey.getOrElse(_, Nil)).map(_ -> e))
      .groupMap(_._1)(_._2)
    val nextByCode = byCode ++ added.map { case (c, es) =>
      c -> (byCode.getOrElse(c, Array.empty[Entry])
        .filterNot(e => replaced((e.key, e.day))) ++ es).sortBy(e => (e.day, e.latest))
    }
    val nextUnjoined = (unjoined -- replaced) ++ got.toSeq
      .filter(e => e.key != null && e.day != Long.MinValue && !dims.codesOfKey.contains(e.key))
      .groupMapReduce(e => (e.key, e.day))(_ => 1)(_ + _)
    val days = got.iterator.map(_.day).filter(_ != Long.MinValue).toSeq
    new ServeIndex(snapshot, layers, total.toInt, (System.nanoTime() - t0) / 1e6,
      System.nanoTime(), if (isDelta) Some(got.length) else None, dims, schema,
      nextByCode, nextUnjoined, (days :+ lo).min, (days :+ hi).max)
  }
}

private[graft] object ServeIndex {
  /** The most fact rows an index holds. Spark's `SizeEstimator` puts
    * an index of the star fact (twelve columns; ServeIndexSpec's
    * fixture, which re-checks the arithmetic below) at 508 bytes of
    * driver heap per row: two JSON strings (about 60 and 250
    * characters), the row object, its reference to the interned
    * `IndexKey` and two boxed doubles. 400,000 rows is then about
    * 203 MB, inside a 256 MB budget with a fifth to spare
    * for values that render longer — twenty times the reference
    * dashboard's whole fact (3 tickers × 25 years).
    *
    * A build over a larger fact collects at most `MaxIndexRows + 1`
    * rows and fails with an error naming this bound. After a refresh,
    * the previous index keeps serving; a fact that never fitted answers
    * every HTTP read with that error as a 500 (before the index, such
    * a fact ran one Spark job per read). Serve it through a paged API. */
  val MaxIndexRows: Int = 400000

  /** One fact row under one `IndexCode`: its `IndexKey` (interned, so
    * entries share one string per key) and epoch day, with a null
    * `DateKey` as `Long.MinValue` (before every real day, so it is
    * never in a date slice and comes last in `/latest`). */
  private[serve] final case class Entry(key: String, day: Long, close: Option[Double],
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

  /** The rows of `frame` as entries (a null `IndexKey` kept as null),
    * in one collect:
    * the scan runs as one task (`coalesce(1)`) and stops after
    * `maxRows + 1` rows, so the driver never holds more than the bound.
    * `columns` is the fact's column order, which `/latest` renders
    * after a leading `IndexKey` (the accessor's USING join puts it
    * first); `/series` renders the three `chartSeries` selects. */
  private def collectEntries(frame: DataFrame, columns: Seq[String],
      maxRows: Int): Array[Entry] = {
    val latestCols = "IndexKey" +: columns.filterNot(_ == "IndexKey")
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    frame.coalesce(1).select(
        col("IndexKey"), unix_date(col("DateKey")),
        col("Close").cast("double"), col("GDPGrowthRate").cast("double"),
        to_json(struct(col("DateKey"), col("Close"), col("GDPGrowthRate"))),
        to_json(struct(latestCols.map(col): _*)))
      .limit(maxRows + 1).collect().map { r =>
        Entry(Option(r.getString(0)).map(_.intern()).orNull,
          if (r.isNullAt(1)) Long.MinValue else r.getInt(1).toLong,
          opt(r, 2), opt(r, 3), r.getString(4), r.getString(5))
      }
  }

  /** Build the index of `fact` (the chain `layers`, folded) in one
    * collect; the join to the dimension runs on the driver over
    * [[Dims]]. */
  def build(fact: DataFrame, snapshot: Option[String], layers: Seq[String],
      dims: Dims, maxRows: Int = MaxIndexRows): ServeIndex =
    new ServeIndex(snapshot, layers, 0, 0.0, 0L, None, dims, fact.schema, Map.empty,
      Map.empty, Long.MaxValue, Long.MinValue)
      .plus(snapshot, layers, fact, isDelta = false, maxRows)
}
