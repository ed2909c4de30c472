package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Landing, StarSchemaBuilder}
import graft.sources.ExternalAdapters

/** S8 landing sink + S5/S6 external-source adapters: the full
  * fetch → reshape → land → watermark → re-read cycle, offline, with
  * injectable fetches (the reference's yfinance/wbdata surgery at
  * fetch_stocks.py:64-78 and :94-119 on canned payloads). */
class LandingSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val tickers = Seq("^DJI", "^GSPC")

  /** Canned wide yfinance-style frame: one row per date, one column
    * per (ticker, field). */
  private def wideFrame(dates: Seq[String]) = {
    import spark.implicits._
    val fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")
    val cols = Seq("Date") ++ (for (t <- tickers; f <- fields) yield s"$t:$f")
    val rows = dates.zipWithIndex.map { case (d, i) =>
      val vals = tickers.flatMap { t =>
        val base = if (t == "^DJI") 37000.0 else 4700.0
        Seq(base + i, base + i + 5, base + i - 5, base + i + 1, base + i + 1,
          1000000.0 + i)
      }
      (d +: vals.map(_.toString)).mkString("|")
    }
    rows.toDF("raw")
      .select(split(col("raw"), "\\|").as("p"))
      .select(cols.zipWithIndex.map { case (c, i) => col("p").getItem(i).as(c) }: _*)
  }

  test("stackYfinance reshapes wide (ticker,field) columns to landing rows") {
    val stacked = ExternalAdapters.stackYfinance(wideFrame(Seq("2024-03-01", "2024-03-04")), tickers)
    assert(stacked.columns.toSeq ==
      Seq("Date", "Ticker", "Open", "High", "Low", "Close", "AdjClose", "Volume"))
    assert(stacked.count() == 4) // 2 dates × 2 tickers
    val r = stacked.filter(col("Ticker") === "^DJI" && col("Date") === "2024-03-04").head
    assert(r.getAs[Double]("Open") == 37001.0)
    assert(r.getAs[Double]("Close") == 37002.0)
    assert(r.getAs[Long]("Volume") == 1000001L)
  }

  test("appendDay lands a CSV object that readLanding and the watermark both see") {
    val dir = graft.etl.Scratch.dir("graft_land_sink")
    val day1 = ExternalAdapters.stackYfinance(wideFrame(Seq("2024-03-01")), tickers)
    Landing.appendDay(day1, dir, "stocks", LocalDate.parse("2024-03-01"))
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "stocks")
      .contains(LocalDate.parse("2024-03-01")))

    // second day advances the watermark; both objects scanned together
    val day2 = ExternalAdapters.stackYfinance(wideFrame(Seq("2024-03-04")), tickers)
    Landing.appendDay(day2, dir, "stocks", LocalDate.parse("2024-03-04"))
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "stocks")
      .contains(LocalDate.parse("2024-03-04")))
    val back = StarSchemaBuilder.readLanding(spark, dir, "stocks",
      StarSchemaBuilder.stocksSchema)
    assert(back.count() == 4)
    // retried day is idempotent (overwrite, not duplicate)
    Landing.appendDay(day2, dir, "stocks", LocalDate.parse("2024-03-04"))
    assert(StarSchemaBuilder.readLanding(spark, dir, "stocks",
      StarSchemaBuilder.stocksSchema).count() == 4)
  }

  test("readLanding fails fast on header drift instead of misassigning columns") {
    val dir = graft.etl.Scratch.dir("graft_land_drift")
    // a landed object whose column ORDER drifted (Ticker before Date):
    // positional schema application would silently put tickers in the
    // Date column — the landing contract demands a red load instead
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "stocks_2024-03-01.csv"),
      "Ticker,Date,Open,High,Low,Close,AdjClose,Volume\n" +
        "^GSPC,2024-03-01,1,2,0.5,1.5,1.5,100\n")
    val e = intercept[Exception] {
      StarSchemaBuilder.readLanding(spark, dir, "stocks",
        StarSchemaBuilder.stocksSchema).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("CSV header does not conform") || m.contains("header")),
      e.toString)
  }

  test("fetchStocksIncrement: watermark gate + fetch window + landed increment") {
    val dir = graft.etl.Scratch.dir("graft_land_incr")
    var fetchedWindow: Option[(LocalDate, LocalDate)] = None
    val fetch = (_: Seq[String], start: LocalDate, end: LocalDate) => {
      fetchedWindow = Some((start, end))
      wideFrame(Seq("2024-03-01"))
    }
    // empty landing → fetch from the reference's 2000-01-01 start date
    val p1 = ExternalAdapters.fetchStocksIncrement(spark, dir, fetch,
      today = LocalDate.parse("2024-03-01"), tickers = tickers)
    assert(p1.isDefined)
    assert(fetchedWindow.contains((LocalDate.parse("2000-01-01"), LocalDate.parse("2024-03-01"))))

    // up to date → no fetch, no landing
    fetchedWindow = None
    val p2 = ExternalAdapters.fetchStocksIncrement(spark, dir, fetch,
      today = LocalDate.parse("2024-03-01"), tickers = tickers)
    assert(p2.isEmpty && fetchedWindow.isEmpty)

    // next day → incremental window from the watermark; an inclusive-
    // start client (yfinance) returns the watermark day AGAIN — it must
    // be filtered out, landing only the new day (no duplicate rows in
    // the landing union)
    val fetchBoth = (_: Seq[String], start: LocalDate, end: LocalDate) => {
      fetchedWindow = Some((start, end))
      wideFrame(Seq("2024-03-01", "2024-03-02"))
    }
    val p3 = ExternalAdapters.fetchStocksIncrement(spark, dir, fetchBoth,
      today = LocalDate.parse("2024-03-02"), tickers = tickers)
    assert(p3.isDefined)
    assert(fetchedWindow.contains((LocalDate.parse("2024-03-01"), LocalDate.parse("2024-03-02"))))
    val all = StarSchemaBuilder.readLanding(spark, dir, "stocks",
      StarSchemaBuilder.stocksSchema)
    assert(all.count() == 4) // 2 tickers × (03-01 once + 03-02 once)
    assert(all.groupBy("Date", "Ticker").count()
      .filter(col("count") > 1).count() == 0)

    // weekend/holiday run: the client returns only already-landed days
    // → no empty object landed, watermark unchanged
    val p4 = ExternalAdapters.fetchStocksIncrement(spark, dir,
      (_: Seq[String], _: LocalDate, _: LocalDate) => wideFrame(Seq("2024-03-02")),
      today = LocalDate.parse("2024-03-03"), tickers = tickers)
    assert(p4.isEmpty)
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "stocks")
      .contains(LocalDate.parse("2024-03-02")))
  }

  test("fetchWorldBank renames indicator columns and lands") {
    import spark.implicits._
    val dir = graft.etl.Scratch.dir("graft_land_wb")
    val canned = Seq(("2024-01-01", 2.5, 3.1), ("2023-01-01", 1.9, 6.5))
      .toDF("Date", "GDP Growth", "Inflation, Consumer Prices")
    ExternalAdapters.fetchWorldBank(spark, dir, () => canned,
      LocalDate.parse("2024-03-01"))
    val back = StarSchemaBuilder.readLanding(spark, dir, "world_bank",
      StarSchemaBuilder.econSchema)
    assert(back.count() == 2)
    assert(back.filter(col("GDPGrowthRate") === 2.5).count() == 1)
  }
}
