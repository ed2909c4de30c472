package graft

import java.nio.file.{Files, Paths}
import java.time.{DayOfWeek, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Scratch, StarSchemaBuilder}
import graft.serve.StarServe
import graft.sources.ExternalAdapters
import graft.streaming.StreamingPipeline

/** One writer day of the reference's daily loop (land the day, publish
  * it to the upsert snapshot, refresh the serving index) costs the
  * same Spark jobs and publishes the same bytes after 30 and after 300
  * days of history: the day's work is in proportion to the day. */
class WriterDaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsDuring

  private val Tickers = Seq("^GSPC", "^DJI", "^NDX")

  private def tradingDays(n: Int): IndexedSeq[LocalDate] =
    Iterator.iterate(LocalDate.of(2021, 1, 4))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toIndexedSeq

  /** A yfinance client over `days`: the wide frame of the days in
    * [start, end), one `<ticker>:<field>` column per pair. */
  private def fetch(days: IndexedSeq[LocalDate])(ts: Seq[String], start: LocalDate,
      end: LocalDate): DataFrame = {
    val fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")
    val schema = StructType(StructField("Date", StringType) +:
      ts.flatMap(t => fields.map(f => StructField(s"$t:$f", DoubleType))))
    val rows = days.zipWithIndex.filter { case (d, _) => !d.isBefore(start) && d.isBefore(end) }
      .map { case (d, i) =>
        Row.fromSeq(d.toString +: ts.zipWithIndex.flatMap { case (_, n) =>
          val c = 1000.0 * (n + 1) + i
          Seq(c - 1, c + 2, c - 2, c, c, 1e6 + i)
        })
      }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def econ(): DataFrame = {
    import spark.implicits._
    (2020 to 2023).map(y => (s"$y-01-01", 2.0 + y % 3, 2.0))
      .toDF("Date", "GDP Growth", "Inflation, Consumer Prices")
  }

  private def treeBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** After `history` landed, published and served days, one more day:
    * the jobs its land, publish and refresh run, and the bytes the
    * publish writes. The day's fact rows are those of a star built
    * over the landing with the day, taken to the driver first, so the
    * publish counts only `applyUpsertBatch`'s own jobs. */
  private def writerDay(history: Int): (Int, Int, Int, Long) = {
    val root = Scratch.dir(s"graft_writer_day_$history")
    val landing = s"$root/landing"
    val snaps = s"$root/snapshots"
    val days = tradingDays(history + 1)
    ExternalAdapters.fetchStocksIncrement(spark, landing, fetch(days),
      days(history - 1).plusDays(1), Tickers)
    ExternalAdapters.fetchWorldBank(spark, landing, () => econ(), days(history - 1))
    StarSchemaBuilder.build(spark, landing, s"$root/star")
    StreamingPipeline.applyUpsertBatch(spark.read.parquet(s"$root/star/fact_table.parquet"),
      0L, Seq("IndexKey", "DateKey"), snaps, "day")
    val serve = StarServe.fromStreamingSnapshots(spark, s"$root/star", snaps)
    try {
      val before = serve.index.rows
      var landed: Option[String] = None
      val land = jobsDuring {
        landed = ExternalAdapters.fetchStocksIncrement(spark, landing, fetch(days),
          days(history).plusDays(1), Tickers)
      }
      assert(landed.isDefined)
      StarSchemaBuilder.build(spark, landing, s"$root/star_next")
      val fact = spark.read.parquet(s"$root/star_next/fact_table.parquet")
      val batch = spark.createDataFrame(
        fact.filter(col("DateKey") === lit(java.sql.Date.valueOf(days(history))))
          .collect().toSeq.asJava, fact.schema)
      val publish = jobsDuring {
        StreamingPipeline.applyUpsertBatch(batch, 1L, Seq("IndexKey", "DateKey"), snaps, "day")
      }
      val written = treeBytes(s"$snaps/${StreamingPipeline.latestSnapshotName(spark, snaps).get}")
      val refresh = jobsDuring(assert(serve.refresh()))
      assert(serve.index.rows == before + Tickers.size)
      assert(serve.index.bounds._2 == java.sql.Date.valueOf(days(history)))
      (land, publish, refresh, written)
    } finally serve.release()
  }

  test("a writer day runs the same jobs and publishes the same bytes at 30 and 300 days of history") {
    val short = writerDay(30)
    val long = writerDay(300)
    Seq(30 -> short, 300 -> long).foreach { case (h, (land, publish, refresh, _)) =>
      assert(land <= 3, s"$land jobs landing a day after $h days")
      assert(publish == 1, s"$publish jobs publishing a day after $h days")
      assert(refresh <= 1, s"$refresh jobs refreshing the index after $h days")
    }
    assert(long._4 <= short._4 + short._4 / 4,
      s"publish wrote ${short._4} bytes after 30 days, ${long._4} after 300")
  }
}
