package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.StarSchemaBuilder
import graft.serve.{ChartRender, ServeIndex, StarServe, StarServeHttp}
import graft.streaming.StreamingPipeline

/** The per-snapshot serving index behind [[StarServeHttp]]: every HTTP
  * body byte-identical to the Spark reference (`toJSON` over the
  * [[StarServe]] DataFrame accessor, or `ChartRender.dualAxis` over the
  * `chartSeries` rows), no Spark job per read, builds that fail leave
  * the old index serving, and the driver-heap size guard. */
class ServeIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Codes = Seq("^GSPC", "^DJI", "^NDX")

  /** Three tickers over 2023-11-01..2024-03-31 with an econ row for
    * 2024 only, so every 2023 fact row has a null GDPGrowthRate. */
  private lazy val starDir: String = {
    val landing = Files.createTempDirectory("graft_index_landing").toString
    val dates = Iterator.iterate(java.time.LocalDate.parse("2023-11-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-03-31"))).toSeq
    val rng = new scala.util.Random(7)
    val rows = for {
      (t, n) <- Codes.zipWithIndex
      (d, i) <- dates.zipWithIndex
    } yield {
      val c = 1000.0 * (n + 1) + i + rng.nextInt(100) / 7.0
      f"$d,$t,${c - 5}%.2f,${c + 5}%.2f,${c - 10}%.2f,$c%.2f,$c%.2f,${1000000 + i}"
    }
    Files.write(Paths.get(landing, "stocks_2024-03-31.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +: rows).mkString("\n").getBytes)
    Files.write(Paths.get(landing, "world_bank_2024-03-31.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1".getBytes)
    val out = Files.createTempDirectory("graft_index_star").toString
    StarSchemaBuilder.build(spark, landing, out)
    out
  }

  private val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def json(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** The Spark reference of the `/chart` body. */
  private def chartRef(serve: StarServe, code: String, start: String, end: String): String = {
    val name = serve.dimStockIndex.filter(col("IndexCode") === code)
      .select(col("IndexName")).collect().headOption.map(_.getString(0)).getOrElse(code)
    ChartRender.dualAxis(s"Close Price and GDP Growth - $name",
      serve.chartSeries(code, start, end).collect().toSeq.map { r =>
        (r.getDate(0).toLocalDate.toEpochDay,
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      })
  }

  /** Assert one request's HTTP body equals its Spark reference. */
  private def assertParity(http: StarServeHttp, serve: StarServe, kind: String,
      code: String, start: String, end: String, k: Int): Unit = {
    val (path, expected) = kind match {
      case "series" => (s"/series?index=${enc(code)}&start=${enc(start)}&end=${enc(end)}",
        json(serve.chartSeries(code, start, end)))
      case "chart" => (s"/chart?index=${enc(code)}&start=${enc(start)}&end=${enc(end)}",
        chartRef(serve, code, start, end))
      case "latest" => (s"/latest?index=${enc(code)}&k=$k", json(serve.latest(code, k)))
    }
    val r = get(http.url + path)
    assert(r.statusCode() == 200, s"$path: ${r.body()}")
    assert(r.body() == expected, s"$path differs from the Spark reference")
  }

  private def withServer(serve: StarServe)(f: StarServeHttp => Unit): Unit = {
    val http = StarServeHttp.serve(serve)
    try f(http) finally { http.stop(0); serve.release() }
  }

  /** Spark jobs started while `body` runs, delimited by two marker jobs
    * (listener events arrive in order, so once the second marker's
    * start is seen every job before it has been counted). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val ids = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = ids.add(e.jobId)
    }
    def marker(tag: String): Int = {
      sc.setJobGroup(s"index-spec-$tag", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(s"index-spec-$tag").max
    }
    sc.addSparkListener(listener)
    try {
      val m0 = marker("before")
      body
      val m1 = marker("after")
      val deadline = System.nanoTime() + 30000000000L
      while (!ids.contains(m1) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(ids.contains(m1), "listener never saw the marker job")
      ids.asScala.count(id => id > m0 && id < m1)
    } finally sc.removeSparkListener(listener)
  }

  test("seeded random requests: every HTTP body is byte-identical to the Spark reference") {
    val serve = new StarServe(spark, starDir)
    withServer(serve) { http =>
      assert(get(s"${http.url}/indexes").body() == json(serve.dimStockIndex))
      val b = serve.fact.agg(min(col("DateKey")), max(col("DateKey"))).head
      assert(get(s"${http.url}/bounds").body() ==
        s"""{"start":"${b.getDate(0)}","end":"${b.getDate(1)}"}""")

      // fixed cases: inside, spanning the data's start, outside,
      // start > end, the null-GDP year boundary, an unknown code, k
      // above the 152 rows a code holds, and date forms the cast takes
      val fixed = Seq(
        ("series", "^GSPC", "2024-01-10", "2024-01-19", 0),
        ("series", "^DJI", "2023-10-01", "2023-11-05", 0),
        ("series", "^NDX", "2030-01-01", "2030-02-01", 0),
        ("series", "^GSPC", "2024-02-01", "2024-01-01", 0),
        ("series", "^GSPC", "2023-12-20", "2024-01-10", 0),
        ("series", "NOPE", "2023-01-01", "2025-01-01", 0),
        ("series", "^DJI", "2024", "2024-02", 0),
        ("series", "^DJI", " 2024-01-05 ", "2024-01-07T12:00:00", 0),
        ("chart", "^GSPC", "2023-12-20", "2024-01-10", 0),
        ("chart", "^NDX", "2023-11-01", "2023-12-31", 0),
        ("chart", "^DJI", "2030-01-01", "2030-02-01", 0),
        ("chart", "NOPE", "2023-01-01", "2025-01-01", 0),
        ("latest", "^GSPC", "", "", 5),
        ("latest", "^DJI", "", "", 500),
        ("latest", "NOPE", "", "", 3))
      fixed.foreach { case (kind, code, s, e, k) =>
        assertParity(http, serve, kind, code, s, e, k)
      }

      val rng = new scala.util.Random(20261017)
      val lo = java.time.LocalDate.parse("2023-09-01")
      def day() = lo.plusDays(rng.nextInt(330)).toString
      (1 to 30).foreach { _ =>
        val kind = Seq("series", "chart", "latest")(rng.nextInt(3))
        val code = (Codes :+ "NOPE")(rng.nextInt(4))
        assertParity(http, serve, kind, code, day(), day(), 1 + rng.nextInt(200))
      }
    }
  }

  test("narrow-schema upsert snapshot: bodies match the reference before and after a refresh") {
    val snapDir = Files.createTempDirectory("graft_index_snap").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(batchId: Long, rows: (String, Double, java.lang.Double)*): Unit = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        rows.map { case (d, c, g) => (key, java.sql.Date.valueOf(d), c, g) }
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "index")
    }
    batch(0L, ("2024-03-01", 100.0, 2.5), ("2024-03-04", 101.0, null),
      ("2024-03-05", 99.5, 2.5))
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    withServer(serve) { http =>
      def all(): Unit = {
        Seq(("series", "2024-03-01", "2024-03-31"), ("series", "2024-03-04", "2024-03-04"),
          ("chart", "2024-03-01", "2024-03-31"), ("chart", "2024-02-01", "2024-02-02"))
          .foreach { case (kind, s, e) => assertParity(http, serve, kind, "^GSPC", s, e, 0) }
        Seq(1, 2, 10).foreach(k => assertParity(http, serve, "latest", "^GSPC", "", "", k))
        assertParity(http, serve, "series", "^DJI", "2024-03-01", "2024-03-31", 0)
        val b = serve.fact.agg(min(col("DateKey")), max(col("DateKey"))).head
        assert(get(s"${http.url}/bounds").body() ==
          s"""{"start":"${b.getDate(0)}","end":"${b.getDate(1)}"}""")
      }
      all()
      batch(1L, ("2024-03-04", 102.25, 3.0), ("2024-03-06", 98.0, null))
      assert(post(s"${http.url}/refresh").body() == """{"swapped":true}""")
      assert(get(s"${http.url}/series?index=%5EGSPC&start=2024-03-06&end=2024-03-06")
        .body().contains("98.0"))
      all()
    }
  }

  test("a failed build on refresh keeps the old index serving; a later refresh succeeds") {
    val snapDir = Files.createTempDirectory("graft_index_fail").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long): Unit = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "fail")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    withServer(serve) { http =>
      val seriesUrl = s"${http.url}/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31"
      assert(get(seriesUrl).body().contains("100.0"))
      val good = serve.index.snapshot
      // the pointer names a snapshot that cannot be read: its build fails
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val ptr = fs.create(new org.apache.hadoop.fs.Path(snapDir, "_LATEST"), true)
      try ptr.write("snapshot_99_gone".getBytes("UTF-8")) finally ptr.close()
      val failed = post(s"${http.url}/refresh")
      assert(failed.statusCode() == 500, failed.body())
      assert(get(seriesUrl).body().contains("100.0"), "the old index must keep serving")
      assert(serve.index.snapshot == good, "a failed build must not move the recorded pointer")
      assert(post(s"${http.url}/refresh").statusCode() == 500, "the next refresh retries")
      // the writer recovers (falls back to its newest complete snapshot
      // as merge base) and re-flips the pointer: the next refresh swaps
      batch(101.5, 1L)
      assert(post(s"${http.url}/refresh").body() == """{"swapped":true}""")
      assert(get(seriesUrl).body().contains("101.5"))
      assert(serve.indexState._2 == 2L, "one build on first use, one good refresh")
    }
  }

  test("reads run zero Spark jobs: 20 reads after warm-up, and a refresh runs only its build") {
    val snapDir = Files.createTempDirectory("graft_index_jobs").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long): Unit = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "jobs")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    withServer(serve) { http =>
      val paths = Seq("/indexes", "/bounds",
        "/series?index=%5EGSPC&start=2024-02-01&end=2024-03-31",
        "/chart?index=%5EGSPC&start=2024-02-01&end=2024-03-31",
        "/latest?index=%5EGSPC&k=5")
      paths.foreach(p => assert(get(http.url + p).statusCode() == 200)) // warm-up
      val reads = jobsDuring {
        (0 until 20).foreach(i => assert(get(http.url + paths(i % paths.size)).statusCode() == 200))
      }
      assert(reads == 0, s"$reads Spark jobs across 20 reads")
      batch(101.5, 1L)
      // the build scans the snapshot in one job; Spark's parquet source
      // infers the new snapshot's schema in a job of its own
      val refresh = jobsDuring(assert(post(s"${http.url}/refresh").body() == """{"swapped":true}"""))
      assert(refresh <= 2, s"$refresh jobs in one refresh")
    }
  }

  test("size guard: a fact above the row bound fails its build with an error naming it") {
    val serve = new StarServe(spark, starDir)
    try {
      val fact = spark.read.parquet(s"$starDir/fact_table.parquet")
      val dims = ServeIndex.dims(serve.dimStockIndex)
      val e = intercept[IllegalStateException](ServeIndex.build(fact, None, dims, maxRows = 100))
      assert(e.getMessage.contains("MaxIndexRows = 100"), e.getMessage)
      // at the bound itself the build fits
      assert(ServeIndex.build(fact, None, dims, maxRows = 3 * 152).rows == 3 * 152)
      // the bound's arithmetic holds on this fact: MaxIndexRows rows of
      // its size fit the 256 MB driver-heap budget
      val idx = serve.index
      val perRow = org.apache.spark.util.SizeEstimator.estimate(idx).toDouble / idx.rows
      assert(perRow * ServeIndex.MaxIndexRows <= 256.0 * 1024 * 1024,
        f"$perRow%.0f bytes per index row")
    } finally serve.release()
  }
}
