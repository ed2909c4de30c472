package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.StarSchemaBuilder

/** Object-store-style filesystem test double: RawLocalFileSystem
  * re-rooted under the `grafts3://` scheme, so every Hadoop FS call
  * the engine makes (listStatus for the watermark, glob for the
  * landing scan, create/rename for the parquet publish) resolves
  * through the scheme→impl binding exactly the way `s3a://` does on a
  * real store — instead of silently short-circuiting through the
  * default `file:` filesystem. */
class S3StyleLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "grafts3"
  override def getUri: java.net.URI = java.net.URI.create("grafts3:///")
}

/** The landing→star loop end-to-end over a NON-default FS scheme
  * (VERDICT r4 #7): LandingSinkSpec/StarSchemaBuilderSpec run on
  * `file://`, which never exercises the scheme resolution an object
  * store needs. This spec binds `fs.grafts3.impl` and runs the whole
  * loop — watermark listing, CSV landing scan with filename column,
  * dim/fact build, parquet publish, re-read — against `grafts3://`
  * URIs, plus the reference-vs-engine object-naming divergence
  * (reference `prefix:date.csv`, fetch_stocks.py:19-37 — ':' is a
  * URI-scheme separator to Hadoop, so the engine convention is
  * `prefix_date.csv`; see MIGRATION.md). */
class S3StyleLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkLanding(): String = {
    val dir = graft.etl.Scratch.dir("graft_s3loop")
    val dates = Iterator.iterate(java.time.LocalDate.parse("2024-01-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-01-31"))).toSeq
    val rows = for {
      t <- Seq("^GSPC", "^DJI")
      (d, i) <- dates.zipWithIndex
    } yield f"$d,$t,${100.0 + i},${110.0 + i},${90.0 + i},${100.0 + i},${100.0 + i},${1000 + i}"
    Files.write(Paths.get(dir, "stocks_2024-01-15.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +:
        rows.take(30)).mkString("\n").getBytes)
    Files.write(Paths.get(dir, "stocks_2024-01-31.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +:
        rows.drop(30)).mkString("\n").getBytes)
    Files.write(Paths.get(dir, "world_bank_2024-01-31.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1".getBytes)
    dir
  }

  test("landing→star→re-read runs entirely over the grafts3:// scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafts3.impl", classOf[S3StyleLocalFs].getName)
    val local = mkLanding()
    val landing = s"grafts3://$local"

    // watermark listing through the bound scheme: newest of the two
    // landed stock objects
    assert(StarSchemaBuilder.lastSavedDate(spark, landing, "stocks")
      .contains(java.time.LocalDate.parse("2024-01-31")))

    // full build: glob scan + filename column + parquet publish, all
    // through grafts3:// (the publish exercises create/rename commit)
    val outLocal = graft.etl.Scratch.dir("graft_s3star")
    val star = StarSchemaBuilder.build(spark, landing, s"grafts3://$outLocal")
    assert(star("dim_stock_index").count() == 2)

    // the landing scan recorded grafts3:// object URIs, not file://
    val fn = StarSchemaBuilder
      .readLanding(spark, landing, "stocks", StarSchemaBuilder.stocksSchema)
      .select(col("filename")).distinct().collect().map(_.getString(0))
    assert(fn.length == 2 && fn.forall(_.startsWith("grafts3://")), fn.toSeq)

    // published parquet re-reads through the same scheme and through
    // plain file:// (the bytes are real either way)
    val viaScheme = spark.read.parquet(s"grafts3://$outLocal/fact_table.parquet").count()
    val viaFile = spark.read.parquet(s"$outLocal/fact_table.parquet").count()
    assert(viaScheme == 62 && viaFile == 62) // 2 tickers × 31 days
  }

  test("reference ':' object naming cannot be a Hadoop path; '_' is the convention") {
    // the reference lands `stocks:2024-01-31.csv` (fetch_stocks.py:29)
    // — to a Hadoop Path that colon is a URI scheme separator, so the
    // name either throws or stops being a child of the landing dir
    val parsed = scala.util.Try(new org.apache.hadoop.fs.Path("stocks:2024-01-31.csv"))
    assert(parsed.isFailure || parsed.get.toUri.getScheme == "stocks")
    // the engine convention round-trips: land under '_', watermark
    // parses the same date the reference encodes after ':'
    assert(sources.ObjectStore.landingUri("b", "stocks",
      java.time.LocalDate.of(2024, 1, 31)) == "s3a://b/stocks_2024-01-31.csv")
  }
}
