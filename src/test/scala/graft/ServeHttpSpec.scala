package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.StarSchemaBuilder
import graft.serve.{StarServe, StarServeHttp}

/** HTTP facade over the serve layer — the reference dashboard's
  * endpoints (`streamlit/app.py`) over plain HTTP. Exercised with the
  * JDK HttpClient against an ephemeral port: endpoint contracts,
  * error mapping, parity with the in-process serve path, and a
  * concurrent-client probe. */
class ServeHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val starDir: String = {
    val landing = graft.etl.Scratch.dir("graft_http_landing")
    val dates = Iterator.iterate(java.time.LocalDate.parse("2024-01-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-02-29"))).toSeq
    val rows = for {
      t <- Seq("^GSPC", "^DJI")
      (d, i) <- dates.zipWithIndex
    } yield {
      val base = if (t == "^GSPC") 4700.0 else 37000.0
      f"$d,$t,${base + i - 5}%.2f,${base + i + 5}%.2f,${base + i - 10}%.2f,${base + i}%.2f,${base + i}%.2f,${1000000 + i}"
    }
    Files.write(Paths.get(landing, "stocks_2024-02-29.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +: rows).mkString("\n").getBytes)
    Files.write(Paths.get(landing, "world_bank_2024-02-29.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1".getBytes)
    val out = graft.etl.Scratch.dir("graft_http_star")
    StarSchemaBuilder.build(spark, landing, out)
    out
  }

  private val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer(f: (StarServeHttp, StarServe) => Unit): Unit = {
    val serve = new StarServe(spark, starDir)
    val http = StarServeHttp.serve(serve)
    try f(http, serve)
    finally { http.stop(0); serve.release() }
  }

  test("endpoint contracts: health, indexes, bounds, latest") {
    withServer { (http, _) =>
      assert(get(s"${http.url}/health").body().contains("\"ok\""))

      // "/" serves the self-contained dashboard page wired to the
      // JSON/SVG endpoints; only the exact root path matches
      val page = get(s"${http.url}/")
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").get()
        .startsWith("text/html"))
      Seq("<select", "/indexes", "/bounds", "/chart").foreach(tok =>
        assert(page.body().contains(tok), s"page missing $tok"))
      assert(get(s"${http.url}/favicon.ico").statusCode() == 404)

      val idx = get(s"${http.url}/indexes")
      assert(idx.statusCode() == 200)
      assert(idx.headers().firstValue("Content-Type").get()
        .startsWith("application/json"))
      assert(idx.body().contains("^GSPC") && idx.body().contains("^DJI"))
      assert(idx.body().startsWith("[") && idx.body().endsWith("]"))

      val b = get(s"${http.url}/bounds")
      assert(b.body() ==
        """{"start":"2024-01-01","end":"2024-02-29"}""")

      val latest = get(s"${http.url}/latest?index=%5EGSPC&k=5")
      assert(latest.statusCode() == 200)
      // 5 JSON objects, newest date first
      assert(latest.body().split("\\},\\{").length == 5)
      assert(latest.body().contains("2024-02-29"))
    }
  }

  test("series + chart match the in-process serve path byte-for-byte") {
    withServer { (http, serve) =>
      val s = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-19")
      assert(s.statusCode() == 200)
      val expected = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19")
        .toJSON.collect().mkString("[", ",", "]")
      assert(s.body() == expected)

      val c = get(s"${http.url}/chart?index=%5EGSPC&start=2024-01-10&end=2024-01-19")
      assert(c.statusCode() == 200)
      assert(c.headers().firstValue("Content-Type").get() == "image/svg+xml")
      assert(c.body() == serve.chartSvg("^GSPC", "2024-01-10", "2024-01-19"))

      // empty slice still renders (the app.py:131 warning banner), 200
      val empty = get(s"${http.url}/chart?index=%5EGSPC&start=2030-01-01&end=2030-01-02")
      assert(empty.statusCode() == 200 && empty.body().contains("<svg"))
    }
  }

  test("error mapping: 400 on missing params, 404 on unknown path, 500 surfaced") {
    withServer { (http, _) =>
      val missing = get(s"${http.url}/series?index=%5EGSPC")
      assert(missing.statusCode() == 400)
      assert(missing.body().contains("start") && missing.body().contains("end"))

      assert(get(s"${http.url}/nope").statusCode() == 404)
      assert(get(s"${http.url}/seriesX").statusCode() == 404,
        "prefix match must not leak /series handler to /seriesX")

      // malformed client input is 400, not a server fault
      val bad = get(s"${http.url}/latest?index=%5EGSPC&k=0")
      assert(bad.statusCode() == 400 && bad.body().contains("k out of range"))
      val nan = get(s"${http.url}/latest?index=%5EGSPC&k=abc")
      assert(nan.statusCode() == 400 && nan.body().contains("not an integer"))
      // a date Spark's cast rejects (an ANSI CAST_INVALID_INPUT before
      // the serving index) is the client's fault too, on either bound
      val badDate = get(s"${http.url}/series?index=%5EGSPC&start=garbage&end=2024-01-19")
      assert(badDate.statusCode() == 400 && badDate.body().contains("not a date: garbage"),
        badDate.body())
      val badEnd = get(s"${http.url}/chart?index=%5EGSPC&start=2024-01-10&end=2024-13-40")
      assert(badEnd.statusCode() == 400, badEnd.body())

      // error bodies stay VALID JSON even when the message spans
      // lines or quotes identifiers (Spark exception messages do both)
      assert(graft.serve.StarServeHttp.jsonEsc("a\"b\nc\td\u0001\\e") ==
        "a\\\"b\\nc\\td\\u0001\\\\e")

      // undecodable percent-escapes are the client's fault -> 400
      // (the JDK HttpClient refuses to even send such a URI, so the
      // probe goes over a raw socket)
      val raw = {
        val sock = new java.net.Socket("127.0.0.1", http.port)
        try {
          sock.getOutputStream.write(
            ("GET /latest?index=%zz HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
              "Connection: close\r\n\r\n").getBytes)
          sock.getOutputStream.flush()
          new String(sock.getInputStream.readAllBytes())
        } finally sock.close()
      }
      assert(raw.startsWith("HTTP/1.1 400"), raw.take(200))

      // (that 400 is the JDK server's own URI guard — it rejects
      // undecodable escapes before ANY handler runs, known path or
      // not, so params()'s decode guard is defense-in-depth for other
      // transports). The handler-level ordering contract is: unknown
      // prefix-matched path → 404 BEFORE params are parsed or
      // validated — a query that would 400 on /latest must not 400 on
      // /latestX
      val unknownWithBadParam = get(s"${http.url}/latestX?index=%5EGSPC&k=0")
      assert(unknownWithBadParam.statusCode() == 404,
        s"${unknownWithBadParam.statusCode()} ${unknownWithBadParam.body()}")

      // HEAD is answered wherever GET is: status + headers, no body
      val head = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/health"))
          .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(head.statusCode() == 200 && head.body().isEmpty)

      // /refresh mutates (snapshot swap) -> POST-only; GET is 405
      // with the RFC-required Allow header
      val notAllowed = get(s"${http.url}/refresh")
      assert(notAllowed.statusCode() == 405)
      assert(notAllowed.headers().firstValue("Allow").get() == "POST")
      val post = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.body() == """{"swapped":false}""") // static mode no-op
    }
  }

  test("snapshot mode over HTTP: POST /refresh swaps to the latest upsert") {
    import graft.streaming.StreamingPipeline
    val snapDir = graft.etl.Scratch.dir("graft_http_snap")
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "http")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      def series() =
        get(s"${http.url}/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31").body()
      def refresh() = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(series().contains("100.0"))
      batch(101.5, 1L)
      // the cached snapshot serves until a refresh observes the flip
      assert(series().contains("100.0"))
      assert(refresh() == """{"swapped":true}""")
      assert(series().contains("101.5"))
      assert(refresh() == """{"swapped":false}""")
    } finally { http.stop(0); serve.release() }
  }

  test("slice cap: a range spanning more rows than maxSliceRows is 413, never collected") {
    val serve = new StarServe(spark, starDir)
    // tiny cap so the fixture's 60-day range trips it
    val http = new StarServeHttp(serve, bindPort = 0, maxSliceRows = 5).start()
    try {
      val wide = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(wide.statusCode() == 413, wide.body())
      assert(wide.body().contains("narrow the date range"))
      val wideChart = get(s"${http.url}/chart?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(wideChart.statusCode() == 413, wideChart.body())
      // a slice within the cap still serves normally
      val narrow = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-12")
      assert(narrow.statusCode() == 200, narrow.body())
      assert(narrow.body().startsWith("[") && narrow.body().endsWith("]"))
    } finally { http.stop(0); serve.release() }
  }

  test("slice cap off (Int.MaxValue sentinel) serves instead of overflowing the limit") {
    // limit(Int.MaxValue + 1) overflows to a NEGATIVE limit — before
    // the sentinel guard every /series request under a cap-off config
    // threw 500; chartSvg already guarded it, the HTTP path must too
    val serve = new StarServe(spark, starDir)
    val http = new StarServeHttp(serve, bindPort = 0,
      maxSliceRows = Int.MaxValue).start()
    try {
      val r = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().startsWith("[") && r.body().endsWith("]"))
    } finally { http.stop(0); serve.release() }
  }

  test("refresh race: reads concurrent with a snapshot swap see exactly one of the two snapshots") {
    import graft.streaming.StreamingPipeline
    val snapDir = graft.etl.Scratch.dir("graft_http_race")
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "race")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      def seriesUrl =
        s"${http.url}/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31"
      assert(get(seriesUrl).body().contains("100.0"))
      batch(101.5, 1L)
      // fire the swap CONCURRENTLY with a stream of reads: every read
      // must return 200 with one of the two valid snapshots — never a
      // torn body, an error, or a third value
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val refreshF = Future(client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()))
      val readsF = Future.sequence((1 to 16).map(_ => Future(get(seriesUrl))))
      val reads = Await.result(readsF, 120.seconds)
      val refresh = Await.result(refreshF, 120.seconds)
      assert(refresh.statusCode() == 200 &&
        refresh.body() == """{"swapped":true}""", refresh.body())
      assert(reads.forall(_.statusCode() == 200),
        reads.map(_.statusCode()).mkString(","))
      val bad = reads.filterNot(r =>
        (r.body().contains("100.0") && !r.body().contains("101.5")) ||
          (r.body().contains("101.5") && !r.body().contains("100.0")))
      assert(bad.isEmpty, s"torn/mixed snapshot bodies: ${bad.map(_.body()).take(2)}")
      // after the swap completes, only the new snapshot serves
      assert(get(seriesUrl).body().contains("101.5"))
    } finally { http.stop(0); serve.release() }
  }

  test("GET /metrics: per-endpoint counts, status classes and latency; the index state") {
    withServer { (http, serve) =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def metrics() = mapper.readTree(get(s"${http.url}/metrics").body())
      // nothing has used the fact yet: no index, no build
      val before = metrics().get("index")
      assert(before.get("builds").asLong == 0L && before.get("rows").isNull)

      val ok = s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-19"
      assert(get(ok).statusCode() == 200 && get(ok).statusCode() == 200)
      assert(get(s"${http.url}/series?index=%5EGSPC&start=x&end=y").statusCode() == 400)
      assert(get(s"${http.url}/latest?index=%5EGSPC&k=3").statusCode() == 200)

      val m = metrics()
      val series = m.get("endpoints").get("/series")
      assert(series.get("requests").asLong == 3L)
      assert(series.get("status").get("2xx").asLong == 2L)
      assert(series.get("status").get("4xx").asLong == 1L)
      assert(series.get("status").get("5xx").asLong == 0L)
      assert(series.get("latency_ms_sum").asDouble > 0.0)
      assert(m.get("endpoints").get("/latest").get("requests").asLong == 1L)
      assert(m.get("endpoints").get("/chart").get("requests").asLong == 0L)
      val index = m.get("index")
      assert(index.get("builds").asLong == 1L)
      assert(index.get("rows").asLong == 120L) // 2 tickers × 60 days
      assert(index.get("snapshot").isNull) // static star fact
      assert(index.get("last_build_ms").asDouble > 0.0)
      assert(index.get("age_s").asDouble >= 0.0)
      assert(index.get("full_builds").asLong == 1L && index.get("delta_applies").asLong == 0L)
      assert(index.get("last_delta_rows").isNull && index.get("chain_layers").asLong == 1L)
      assert(serve.indexState.builds == 1L)
    }
    // snapshot mode: one full build on first use, then one delta refresh
    import graft.streaming.StreamingPipeline
    val snapDir = graft.etl.Scratch.dir("graft_http_metrics")
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(batchId: Long, days: String*) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        days.map(d => (key, java.sql.Date.valueOf(d), 100.0, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "metrics")
    }
    batch(0L, "2024-03-01", "2024-03-04")
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def index() = mapper.readTree(get(s"${http.url}/metrics").body()).get("index")
      assert(get(s"${http.url}/bounds").statusCode() == 200)
      val full = index()
      assert(full.get("full_builds").asLong == 1L && full.get("delta_applies").asLong == 0L)
      assert(full.get("last_delta_rows").isNull && full.get("chain_layers").asLong == 1L)
      batch(1L, "2024-03-05")
      assert(client.send(HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).body() == """{"swapped":true}""")
      val delta = index()
      assert(delta.get("builds").asLong == 2L)
      assert(delta.get("full_builds").asLong == 1L && delta.get("delta_applies").asLong == 1L)
      assert(delta.get("last_delta_rows").asLong == 1L && delta.get("chain_layers").asLong == 2L)
      assert(delta.get("rows").asLong == 3L)
      assert(delta.get("snapshot").asText == "snapshot_1_metrics")
      // a delta past the base's bytes makes the next batch a fold: its
      // refresh is a full build, which applied no delta
      batch(2L, (1 to 28).map(d => f"2024-04-$d%02d"): _*)
      batch(3L, "2024-05-01")
      assert(StreamingPipeline.latestSnapshotName(spark, snapDir).contains("snapshot_3_metrics"))
      assert(client.send(HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).body() == """{"swapped":true}""")
      val folded = index()
      assert(folded.get("full_builds").asLong == 2L && folded.get("delta_applies").asLong == 1L)
      assert(folded.get("last_delta_rows").isNull && folded.get("chain_layers").asLong == 1L)
      assert(folded.get("rows").asLong == 3L + 28L + 1L)
    } finally { http.stop(0); serve.release() }
  }

  test("concurrent clients: parallel requests all succeed with consistent bodies") {
    withServer { (http, serve) =>
      val expected = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19")
        .toJSON.collect().mkString("[", ",", "]")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val hits = Future.sequence((1 to 12).map { _ =>
        Future(get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-19"))
      })
      val rs = Await.result(hits, 120.seconds)
      assert(rs.forall(_.statusCode() == 200))
      assert(rs.forall(_.body() == expected),
        "every concurrent response must carry the identical slice")
    }
  }
}
