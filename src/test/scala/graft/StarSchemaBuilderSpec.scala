package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.StarSchemaBuilder

/** Golden test per FIXTURES.md §2: 2 tickers × ~7 weeks of daily rows
  * spanning weekends and a year boundary + annual econ rows with one
  * missing year — exercises the lag boundary, 20-row volatility
  * warm-up, weekend flag, union-distinct dates and left-join NULL
  * padding in one fixture. */
class StarSchemaBuilderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkLanding(): String = {
    val dir = graft.etl.Scratch.dir("graft_landing")
    val dates = Iterator.iterate(java.time.LocalDate.parse("2023-12-15"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-01-31"))).toSeq
    val rows = for {
      t <- Seq("^GSPC", "^DJI")
      (d, i) <- dates.zipWithIndex
    } yield {
      val base = if (t == "^GSPC") 4700.0 else 37000.0
      val close = base + 10.0 * math.sin(i) + i
      f"$d,$t,${close - 5}%.2f,${close + 5}%.2f,${close - 10}%.2f,$close%.2f,$close%.2f,${1000000 + i}"
    }
    Files.write(Paths.get(dir, "stocks_2024-01-31.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +: rows).mkString("\n").getBytes)
    // econ: 2024 present, 2023 missing → NULL pads for 2023 stock rows;
    // 2022 row exists only in econ → appears in DimDate via union.
    Files.write(Paths.get(dir, "world_bank_2024-01-31.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1\n2022-01-01,1.9,6.5".getBytes)
    // invalid object name must be skipped by the watermark scan
    Files.write(Paths.get(dir, "stocks_garbage.csv"), "x".getBytes)
    dir
  }

  test("watermark = max date parsed from object names; invalid names skipped") {
    val dir = mkLanding()
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "stocks")
      .contains(java.time.LocalDate.parse("2024-01-31")))
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "world_bank")
      .contains(java.time.LocalDate.parse("2024-01-31")))
    assert(StarSchemaBuilder.lastSavedDate(spark, dir, "nope").isEmpty)
  }

  test("star build: dims and fact match reference semantics") {
    val dir = mkLanding()
    val out = graft.etl.Scratch.dir("graft_star")
    val star = StarSchemaBuilder.build(spark, dir, out)

    val dimDate = star("dim_date").cache()
    // 48 stock dates ∪ {2024-01-01 (already in), 2022-01-01} = 49
    assert(dimDate.count() == 49)
    assert(dimDate.filter(col("DateKey") === "2022-01-01").count() == 1)
    // 2024-01-06 is a Saturday
    val sat = dimDate.filter(col("DateKey") === "2024-01-06").head
    assert(sat.getAs[Boolean]("IsWeekend"))
    assert(sat.getAs[String]("DayOfWeek") == "Saturday")
    val mon = dimDate.filter(col("DateKey") === "2024-01-08").head
    assert(!mon.getAs[Boolean]("IsWeekend"))

    val dimIdx = star("dim_stock_index").collect()
    assert(dimIdx.length == 2)
    val gspc = dimIdx.find(_.getAs[String]("IndexCode") == "^GSPC").get
    assert(gspc.getAs[String]("IndexName") == "S&P 500")
    assert(gspc.getAs[String]("IndexKey") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("^GSPC".getBytes).map("%02x".format(_)).mkString)

    assert(star("dim_country").count() == 1)

    val fact = spark.read.parquet(s"$out/fact_table.parquet").cache()
    assert(fact.count() == 96) // 2 tickers × 48 days
    // first row per ticker: NULL return (pandas pct_change)
    assert(fact.filter(col("DailyReturn").isNull).count() == 2)
    // volatility NULL until 20 returns accumulated (rows 1..20/ticker)
    assert(fact.filter(col("Volatility").isNull).count() == 40)
    // econ NULL-padding: 2023 rows have no GDP, 2024 rows do
    assert(fact.filter(year(col("DateKey")) === 2023 && col("GDPGrowthRate").isNotNull).count() == 0)
    assert(fact.filter(year(col("DateKey")) === 2024 && col("GDPGrowthRate").isNull).count() == 0)
    // country key constant
    assert(fact.select("CountryKey").distinct().head.getString(0) == "USA")
  }
}
