package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** External-API source adapters — SURVEY §2.1 S5/S6.
  *
  * The reference's two ingest tasks pull from yfinance and wbdata and
  * then do pure frame surgery before landing
  * (airflow/dags/fetch_stocks.py:64-78 and :94-119). The network fetch
  * is environment (and offline in this sandbox); the SURGERY is engine
  * logic and is replicated here as pure DataFrame transforms with an
  * injectable fetch — production plugs a real client in, tests pass a
  * canned frame.
  *
  * Scale note: these adapters run on driver-fetched increments (one
  * day to a few years of daily rows — small by construction); the
  * heavy path is the landing scan + star build, not the fetch.
  */
object ExternalAdapters {

  /** The reference's post-`yf.download` reshape (fetch_stocks.py:68-70):
    * the wide multi-index frame — one row per Date, one column per
    * (ticker, field) pair, named `<ticker>:<field>` here — is stacked
    * to one row per (Date, Ticker) and the fields re-ordered to the
    * landing layout (Open, High, Low, Close, AdjClose, Volume).
    *
    * `stack()` is the Spark-native unpivot: no shuffle, evaluated
    * row-by-row inside the scan projection. */
  def stackYfinance(wide: DataFrame, tickers: Seq[String]): DataFrame = {
    require(tickers.nonEmpty, "at least one ticker")
    val fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")
    // escape for selectExpr: backslash doubles FIRST (the default
    // parser treats \ as an escape inside string literals — a trailing
    // \ would swallow the closing quote), then ' doubles; ` in quoted
    // identifiers doubles — a ticker like BRK'A or A\ must not break
    // (or inject into) the stack() expression
    def sqlLit(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    def sqlIdent(s: String) = "`" + s.replace("`", "``") + "`"
    val stackArgs = tickers.map { t =>
      s"${sqlLit(t)}, " + fields.map(f => sqlIdent(s"$t:$f")).mkString(", ")
    }.mkString(", ")
    wide.selectExpr("Date",
        s"stack(${tickers.length}, $stackArgs) AS (Ticker, Open, High, Low, Close, AdjClose, Volume)")
      .select(col("Date").cast("date"), col("Ticker"),
        col("Open").cast("double"), col("High").cast("double"),
        col("Low").cast("double"), col("Close").cast("double"),
        col("AdjClose").cast("double"),
        // yfinance delivers Volume as float64; double→long matches the
        // reference's integral CSV output
        col("Volume").cast("double").cast("long"))
  }

  /** The reference's wbdata rename (fetch_stocks.py:108-111): indicator
    * display names → engine column names, date column surfaced. */
  def renameWorldBank(df: DataFrame): DataFrame =
    df.withColumnRenamed("GDP Growth", "GDPGrowthRate")
      .withColumnRenamed("Inflation, Consumer Prices", "InflationRate")
      .withColumnRenamed("Date", "date")

  /** Full stock-ingest task (fetch_stocks.py:39-78) with injectable
    * fetch: watermark from landed object names, fetch the window from
    * the watermark, reshape, drop rows at or before the max Date
    * already landed (works for start-inclusive AND end-exclusive
    * clients), land one CSV object. Returns the landed path, or None
    * when already up to date / the increment is empty.
    *
    * `fetch(tickers, start, end)` returns the wide frame
    * `stackYfinance` expects; production adapts a real client, tests
    * pass canned data. */
  def fetchStocksIncrement(spark: SparkSession, landingDir: String,
      fetch: (Seq[String], LocalDate, LocalDate) => DataFrame,
      today: LocalDate,
      tickers: Seq[String] = Seq("^DJI", "^GSPC", "^NDX"),
      prefix: String = "stocks"): Option[String] = {
    val watermark = graft.etl.StarSchemaBuilder
      .lastSavedDate(spark, landingDir, prefix)
    val lastSave = watermark
      .getOrElse(LocalDate.of(2000, 1, 1)) // reference start date (:56)
    if (!lastSave.isBefore(today)) None // "Stock data up to date" (:60-62)
    else {
      val stacked = stackYfinance(fetch(tickers, lastSave, today), tickers)
      // Dedup boundary = max Date actually LANDED, not the filename
      // watermark: an end-exclusive client (yfinance) fetched only
      // through watermark-1 on the previous run, so rows ON the
      // watermark day may be genuinely new — filtering on the filename
      // date would drop them forever. Against landed DATA, inclusive
      // clients lose their duplicate re-fetch and exclusive clients
      // lose nothing. (The reference re-lands the overlap — duplicate
      // rows; corrected here.)
      // Only the NEWEST landed object is read for the boundary: every
      // increment this function lands contains strictly newer dates
      // than all prior objects (enforced by the `Date > lastLanded`
      // filter below), so its max(Date) is the history's max(Date).
      // Scanning the whole history here would be O(history) per daily
      // increment — unbounded growth for a bounded question.
      // Invariant guard: those invariants hold for objects THIS writer
      // landed, but an out-of-band writer could land an empty object
      // under the newest watermark name — then max(Date) is null, and
      // treating that as "nothing landed" would silently re-land the
      // whole window as duplicates. Fall back to the full-history scan
      // (correct for any landing contents) instead.
      val lastLanded: Option[java.sql.Date] =
        watermark.flatMap { wm =>
          maxDate(spark.read
              .option("header", "true")
              .schema(graft.etl.StarSchemaBuilder.stocksSchema)
              .csv(s"$landingDir/${prefix}_$wm.csv"))
            .orElse(maxDate(graft.etl.StarSchemaBuilder.readLanding(spark,
              landingDir, prefix, graft.etl.StarSchemaBuilder.stocksSchema)))
        }
      val increment = lastLanded match {
        case Some(d) => stacked.filter(col("Date") > lit(d))
        case None => stacked
      }
      // nothing new (weekend/holiday run): do not land an empty object
      // or advance the watermark
      if (increment.isEmpty) None
      else Some(graft.etl.Landing.appendDay(increment, landingDir, prefix, today))
    }
  }

  /** `max(Date)` over `landed` (None: no non-null date) in one Spark
    * job with no exchange: each task reduces its split to its own
    * max, and the driver takes the max of those. A `max` aggregate
    * plans a partial and a final stage, which AQE runs as two jobs. */
  private def maxDate(landed: DataFrame): Option[java.sql.Date] = {
    import landed.sparkSession.implicits._
    landed.select(unix_date(col("Date"))).as[Option[Int]]
      .mapPartitions(days => Iterator(days.flatten.maxOption))
      .collect().flatten.maxOption
      .map(org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate)
  }

  /** Full world-bank ingest task (fetch_stocks.py:81-119) with
    * injectable fetch: fetch, rename, land one CSV object (the
    * reference re-lands the full indicator history each run — no
    * watermark on this path). Returns the landed path. */
  def fetchWorldBank(spark: SparkSession, landingDir: String,
      fetch: () => DataFrame, today: LocalDate,
      prefix: String = "world_bank"): String =
    graft.etl.Landing.appendDay(renameWorldBank(fetch()), landingDir, prefix, today)
}
